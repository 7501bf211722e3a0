"""The benchmark's workloads.

Each workload drives the engine through its public API on inputs made
by ``gen.py`` and checks what comes back against ``oracle.py``:

* ``run(it)``    — one timed, closed-loop iteration;
* ``verify(r)``  — untimed output checks: exact sampled scores, pairwise
  F1 against the oracle and an output digest;
* ``layers(r, tracer)`` — per-layer numbers of a traced iteration;
* ``cleanup(r)`` — deletes everything the iteration wrote.

Engine entry points are looked up on their modules at call time, so the
tracer's wrappers apply to traced iterations.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

import gen
import oracle

STAGES = ["01_files", "02_blocks", "03_pairs", "04_scores", "05_clusters"]


def _f1(pred: set, truth: set) -> float:
    if not pred and not truth:
        return 1.0
    return 2.0 * len(pred & truth) / (len(pred) + len(truth))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if not f.startswith(("_", ".")))


class Workload:
    """Shared state: the session, the input dir and the iteration root."""

    def __init__(self, spark, inputs: str, meta: dict, work: str, seed: int):
        self.spark, self.inputs, self.meta = spark, inputs, meta
        self.work, self.seed = work, seed

    def cleanup(self, r: dict) -> None:
        shutil.rmtree(r["dir"], ignore_errors=True)


class LinkageDense(Workload):
    """``run_pipeline`` on a near-duplicate-family source corpus."""

    def __init__(self, *a):
        super().__init__(*a)
        self.thr = gen.DENSE["threshold"]
        t = pq.read_table(os.path.join(self.inputs, "corpus.parquet"),
                          columns=["id", "content"])
        self.content = dict(zip(t.column("id").to_pylist(),
                                t.column("content").to_pylist()))
        self.truth = {i: c for i, c in self.meta["oracle_clusters"]}
        warm = pq.read_table(os.path.join(self.inputs, "warm.parquet"),
                             columns=["id"]).column("id").to_pylist()
        self.warm_truth = {i: self.truth[i] for i in warm}
        self.true_pairs = {tuple(p) for p in self.meta["true_pairs"]}
        self.records = self.meta["docs"]
        self.oracle_cache: dict = {}

    def run(self, it: int) -> dict:
        """Iteration 0, the cold one, links the smaller ``warm.parquet``:
        the JVM and the Python workers warm up on the same code paths at
        a fraction of the run time.  Every other iteration links the
        whole corpus."""
        from fuzzspark.pipeline import run as pipeline
        d = os.path.join(self.work, f"it{it}")
        name = "warm.parquet" if it == 0 else "corpus.parquet"
        t0 = time.perf_counter()
        out = pipeline.run_pipeline(
            self.spark, self.spark.read.parquet(os.path.join(self.inputs, name)),
            d, pipeline.LinkageConfig(threshold=self.thr))
        wall = time.perf_counter() - t0
        return dict(dir=d, out=out, wall_s=wall, unit_ms=[wall * 1e3],
                    ops=1, records=self.records, pairs=len(self.true_pairs),
                    truth=self.warm_truth if it == 0 else self.truth)

    def verify(self, r: dict) -> dict:
        out, truth = r["out"], r["truth"]
        cl = out["clusters"].toPandas()
        pred = dict(zip(cl["id"].tolist(), cl["cluster_id"].tolist()))
        f1 = (oracle.pair_f1(pred, truth)
              if pred.keys() == truth.keys() else 0.0)
        sc = (out["scores"].select("left_id", "right_id", "exact_equal",
                                   "score")
              .toPandas().sort_values(["left_id", "right_id"]))
        r["scores"] = sc
        rows = list(zip(sc["left_id"].tolist(), sc["right_id"].tolist(),
                        sc["exact_equal"].tolist(), sc["score"].tolist()))
        rng = random.Random(self.seed)
        bad = 0
        for a, b, exact, score in rng.sample(rows, min(60, len(rows))):
            s1, s2 = self.content[a], self.content[b]
            if exact:
                bad += not (s1 == s2 and score == 1.0)
                continue
            if (a, b) not in self.oracle_cache:
                self.oracle_cache[(a, b)] = oracle.ratio(s1, s2)
            bad += not oracle.score_ok(score, self.oracle_cache[(a, b)], self.thr)
        h = hashlib.sha256()
        h.update(json.dumps(sorted(pred.items())).encode())
        h.update(json.dumps([(a, b, None if s != s else round(s, 12))
                             for a, b, _, s in rows]).encode())
        return dict(f1=f1, bad=bad, digest=h.hexdigest(),
                    ok=bad == 0 and f1 >= 0.99)

    def layers(self, r: dict, tracer, spans: list) -> dict:
        from pyspark.sql import functions as F
        out, sc = r["out"], r["scores"]
        m = {}
        total_bytes = 0
        for st in STAGES:
            mpath = out["runner"].manifest_path(st)
            with open(mpath) as f:
                man = json.load(f)
            span = next(s for s in spans if s["name"] == f"stage.{st}")
            m[f"stage.{st}.s"] = tracer.self_time(span)
            m[f"stage.{st}.rows"] = man["row_count"]
            m[f"stage.{st}.bytes"] = _dir_bytes(os.path.dirname(mpath))
            total_bytes += m[f"stage.{st}.bytes"]
        # connected_components' own stats, kept in the stage manifest
        cc = man.get("extra", {})
        m["checkpoint.write_amp"] = total_bytes / self.meta["content_bytes"]
        b = out["blocks"]
        win = F.col("block_key").rlike("#[wv][0-9]+$")
        n_keys, n_win = b.agg(F.count("*"), F.sum(win.cast("long"))).first()
        max_block = (b.groupBy(F.regexp_replace("block_key", "#[wv][0-9]+$",
                                                "").alias("k"))
                     .agg(F.countDistinct("id").alias("n"))
                     .agg(F.max("n")).first()[0])
        m["blocking.keys_per_doc"] = n_keys / self.records
        m["blocking.max_block"] = max_block
        m["blocking.windowed_key_share"] = (n_win or 0) / n_keys
        cand = set(zip(sc["left_id"].tolist(), sc["right_id"].tolist()))
        exact = sc["exact_equal"].fillna(False).astype(bool)
        edges = int((sc["score"] >= self.thr).sum())
        m["pairs.candidates"] = len(sc)
        m["pairs.per_doc"] = len(sc) / self.records
        m["pairs.exact_share"] = float(exact.mean())
        m["pairs.recall"] = len(cand & self.true_pairs) / len(self.true_pairs)
        m["pairs.match_yield"] = edges / len(sc)
        scored = sc[~exact]
        m["kernels.suppressed_share"] = float(scored["score"].isna().mean())
        m["cluster.s"] = sum(s["end"] - s["start"] for s in spans
                             if s["name"] == "cluster.connected_components")
        m["cluster.edges_in"] = edges
        m["cluster.contract_passes"] = len(cc.get("phase2_edges", []))
        m["cluster.star_rounds"] = max(0, len(cc.get("round_edges", [])) - 1)
        m["cluster.driver_finish_edges"] = cc.get("driver_finish_at_edges") or 0
        return m


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=timezone.utc).timestamp()


class StreamMatch(Workload):
    """``streaming_fuzzy_match`` (Levenshtein) of small arrival files
    against a reference corpus, one file per micro-batch."""

    WARM_FILES = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.thr = gen.STREAM["threshold"]
        self.ref_path = os.path.join(self.inputs, "reference.parquet")
        self.arrivals = os.path.join(self.inputs, "arrivals")
        self.content = {}
        self.file_ids = {}
        for f in [self.ref_path] + sorted(
                os.path.join(self.arrivals, x) for x in os.listdir(self.arrivals)):
            t = pq.read_table(f, columns=["id", "content"])
            ids = t.column("id").to_pylist()
            self.content.update(zip(ids, t.column("content").to_pylist()))
            self.file_ids[os.path.basename(f)] = set(ids)
        self.expected = {tuple(e) for e in self.meta["expected_edges"]}
        self.oracle_cache: dict = {}

    def run(self, it: int) -> dict:
        """Iteration 0, the cold one, streams only the first
        ``WARM_FILES`` arrival files: the JVM and the Python workers warm
        up on the same code paths at a fraction of the run time.  Every
        other iteration streams all of them."""
        from fuzzspark.streaming import ops
        d = os.path.join(self.work, f"it{it}")
        files = sorted(f for f in self.file_ids if f.startswith("part-"))
        if it == 0:
            files = files[:self.WARM_FILES]
        source = os.path.join(self.arrivals, "{" + ",".join(files) + "}")
        ref = self.spark.read.parquet(self.ref_path)
        stream = (self.spark.readStream.schema(ref.schema)
                  .option("maxFilesPerTrigger", 1).parquet(source))
        t0 = time.perf_counter()
        q = ops.streaming_fuzzy_match(
            stream, ref, scorer="levenshtein", threshold=self.thr,
            sink_dir=os.path.join(d, "sink"),
            checkpoint_dir=os.path.join(d, "checkpoint"))
        q.awaitTermination()
        wall = time.perf_counter() - t0
        q.unpersist_reference()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        prog = sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])
        batches = [dict(start=_epoch(p["timestamp"]),
                        trigger_ms=p["durationMs"]["triggerExecution"],
                        add_ms=p["durationMs"].get("addBatch", 0))
                   for p in prog]
        arrivals = set().union(*(self.file_ids[f] for f in files))
        return dict(dir=d, wall_s=wall, batches=batches, arrivals=arrivals,
                    unit_ms=[b["trigger_ms"] for b in batches],
                    ops=len(batches), records=len(arrivals),
                    pairs=sum(e[0] in arrivals for e in self.expected))

    def verify(self, r: dict) -> dict:
        sink = os.path.join(r["dir"], "sink")
        edges = []
        if os.path.isdir(sink):
            t = pq.read_table(sink, columns=["stream_id", "ref_id", "score"])
            edges = sorted(zip(t.column("stream_id").to_pylist(),
                               t.column("ref_id").to_pylist(),
                               t.column("score").to_pylist()))
        bad = int(len({(s, f) for s, f, _ in edges}) != len(edges))
        truth = {e for e in self.expected if e[0] in r["arrivals"]}
        for s, f, score in edges:
            if (s, f) not in self.oracle_cache:
                self.oracle_cache[(s, f)] = oracle.levenshtein(
                    self.content[s], self.content[f])
            expect = self.oracle_cache[(s, f)]
            # the engine rounds match scores to 6 decimals
            bad += not (expect >= self.thr - oracle.SCORE_TOL
                        and abs(score - expect) <= 5e-7 + oracle.SCORE_TOL)
            if expect >= self.thr:
                truth.add((s, f))
        f1 = _f1({(s, f) for s, f, _ in edges}, truth)
        return dict(f1=f1, bad=bad,
                    digest=hashlib.sha256(json.dumps(edges).encode())
                    .hexdigest(), ok=bad == 0 and f1 >= 0.99)

    def layers(self, r: dict, tracer, spans: list) -> dict:
        bs = r["batches"]
        # micro-batches run on the query's own thread after start()
        # returns: record them from the progress reports, under the
        # iteration span
        parent = next(s for s in spans if s["name"] == "iteration")
        for k, b in enumerate(bs):
            tracer.add("streaming.micro_batch", b["start"],
                       b["start"] + b["trigger_ms"] / 1e3, parent, batch=k)
        rest = bs[1:]
        return {"stream.batches": len(bs),
                "stream.first_batch_ms": bs[0]["trigger_ms"],
                "stream.add_batch_ms_p50":
                    statistics.median(b["add_ms"] for b in rest),
                "stream.trigger_overhead_ms_p50":
                    statistics.median(b["trigger_ms"] - b["add_ms"]
                                      for b in rest),
                "stream.rows_per_batch": r["records"] / len(bs)}


WORKLOADS = {"linkage_dense": LinkageDense, "stream_match": StreamMatch}
