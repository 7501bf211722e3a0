"""fuzzspark benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload linkage_dense --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Generates (or reuses) the seeded inputs,
starts one Spark driver at local[N] (N = usable cores, or
SPARK_GRAFT_CPUS), runs two untimed warm-up iterations, then timed
iterations back to back for about ``--seconds`` seconds, checking every
iteration's output against the independent oracle.  The last stdout
line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it carries host diagnostics.  Every
file the run writes lives under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
# after the cold iteration the next one still ran 10-20% slower than
# the ones after it (README.md, Run length and spread)
WARMUP_ITERS = 2

END_TO_END = {"wall_s": "s", "docs_per_s": "docs/s", "pairs_per_s": "pairs/s",
              "match_batch_p50_ms": "ms", "match_batch_p90_ms": "ms",
              "setup_s": "s", "peak_rss_mb": "MB", "pair_f1": "ratio"}

PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    **{f"stage.{st}.{k}": u for st in ["01_files", "02_blocks", "03_pairs",
                                       "04_scores", "05_clusters"]
       for k, u in [("s", "s"), ("rows", "count"), ("bytes", "bytes")]},
    "checkpoint.write_amp": "ratio",
    "blocking.keys_per_doc": "ratio", "blocking.max_block": "count",
    "blocking.windowed_key_share": "ratio",
    "pairs.candidates": "count", "pairs.per_doc": "ratio",
    "pairs.exact_share": "ratio", "pairs.recall": "ratio",
    "pairs.match_yield": "ratio",
    "kernels.us_per_pair.docs_ratio": "us", "kernels.us_per_pair.names_jw": "us",
    "kernels.suppressed_share": "ratio",
    "python.rows_out": "count", "python.bytes_in": "bytes",
    "python.bytes_out": "bytes", "python.worker_s": "s",
    "cluster.s": "s", "cluster.edges_in": "count",
    "cluster.contract_passes": "count", "cluster.star_rounds": "count",
    "cluster.driver_finish_edges": "count",
    "stream.batches": "count", "stream.first_batch_ms": "ms",
    "stream.add_batch_ms_p50": "ms", "stream.trigger_overhead_ms_p50": "ms",
    "stream.rows_per_batch": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_failures": "count",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.strip() else len(os.sched_getaffinity(0))


def _isolate_env(run_dir: str) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers into the run's own directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a heap the JVM fills keeps peak_rss_mb steady from run to run; with
    # the engine's 8g default it follows GC timing (README.md, Model)
    os.environ.setdefault("FUZZSPARK_DRIVER_MEM", "2g")


def _get_spark(app: str, cpus: int, extra_conf: dict):
    """get_spark(): JVM launch, package ship, native kernel compile into
    the run's fresh cache dir."""
    from fuzzspark.session import get_spark

    spark = get_spark(app, cpus=cpus, shuffle_partitions=cpus,
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("fuzzspark.python.parallelism", str(cpus))
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext
    import tracing as tr

    started = tr.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    # Python workers can outlive the JVM as orphans: end them too
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and any(tr.running(p) for p in started):
        time.sleep(0.05)


def _room(t0: float, seconds: float, iter_s: list) -> bool:
    """True if one more iteration, as long as the median so far, ends
    nearer to the end of the ``seconds`` window that started at ``t0``
    than stopping now would: the loop then lasts ``seconds`` on average,
    whatever the iteration length."""
    left = seconds - (time.perf_counter() - t0)
    return left > (statistics.median(iter_s) / 2 if iter_s else 0.0)


def _kernel_us() -> dict:
    """Single-thread in-process batch_scores on fixed samples drawn the
    way each workload draws its scorer-bound pairs (best of 3); the
    first 200 scores of each are checked against the oracle."""
    import random
    import numpy as np
    from fuzzspark.kernels.batch import batch_scores
    import gen
    import oracle

    cutoff = 0.85
    out = {}
    for name, scorer, pairs in [
            ("docs_ratio", "ratio", gen.doc_pairs(random.Random(0), 500)),
            ("names_jw", "jaro_winkler",
             gen.name_pairs(random.Random(0), 20000))]:
        s1 = np.array(pairs[0], dtype=object)
        s2 = np.array(pairs[1], dtype=object)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            got = batch_scores(scorer, "normalized_similarity", s1, s2,
                               score_cutoff=cutoff)
            best = min(best, time.perf_counter() - t0)
        for a, b, g in zip(s1[:200], s2[:200], got[:200]):
            if not oracle.score_ok(g, oracle.SCORERS[scorer](a, b), cutoff):
                raise RuntimeError(f"{scorer} kernel disagrees with the "
                                   f"oracle on {a!r} / {b!r}: {g}")
        out[f"kernels.us_per_pair.{name}"] = best / len(s1) * 1e6
    return out


def _spark_layers(jobs: list, iters: list, spans: dict) -> tuple[dict, dict]:
    """Event-log totals per traced iteration (median over iterations) and
    the per-span breakdown (summed over traced iterations)."""
    keys = ["tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
            "task_failures"]
    per_iter = []
    by_span: dict = {}
    for it in iters:
        sel = [j for j in jobs if it["start"] <= j["submit"] <= it["end"]]
        tot = {k: sum(j[k] for j in sel) for k in keys}
        tot["jobs"] = len(sel)
        for k in ["py_rows_out", "py_bytes_in", "py_bytes_out", "py_worker_s"]:
            tot[k] = sum(j[k] for j in sel)
        per_iter.append(tot)
        for j in sel:
            desc = j["description"] or ""
            if desc.startswith("span:"):
                name = spans[int(desc[5:])]["name"]
            else:  # Spark names micro-batch jobs by query and batch id
                name = "streaming.micro_batch" if "runId" in desc else "other"
            agg = by_span.setdefault(name, dict.fromkeys(["jobs", *keys], 0))
            agg["jobs"] += 1
            for k in keys:
                agg[k] += j[k]

    def med(k):
        return statistics.median(p[k] for p in per_iter)

    m = {f"spark.{k}": med(k) for k in ["jobs", *keys]}
    m.update({"python.rows_out": med("py_rows_out"),
              "python.bytes_in": med("py_bytes_in"),
              "python.bytes_out": med("py_bytes_out"),
              "python.worker_s": med("py_worker_s")})
    return m, by_span


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    run_t0 = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import fuzzspark  # the program under test
    except ImportError as e:
        print(f"fuzzspark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(fuzzspark.__file__).startswith(ROOT + os.sep):
        print(f"fuzzspark was imported from {fuzzspark.__file__}, not from "
              f"{ROOT}", file=sys.stderr)
        return 2
    import gen
    import tracing as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = _cpus()
    run_dir = os.path.join(SCRATCH, "runs", f"{args.workload}-s{args.seed}-"
                           f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate_env(run_dir)
    diag = dict(workload=args.workload, seed=args.seed, cpus=cpus,
                load_before=os.getloadavg(), probe_us_before=tr.probe_us())

    t0 = time.perf_counter()
    inputs, meta = gen.prepare(args.workload, args.seed,
                               os.path.join(SCRATCH, "inputs"))
    diag["inputs_s"] = time.perf_counter() - t0
    diag["inputs"] = {k: v for k, v in meta.items()
                      if not isinstance(v, (list, dict))}

    # a heap fixed at its maximum from the start: a growing heap kept
    # timed iterations speeding up for a minute (README.md, Model)
    extra_conf = {"spark.driver.extraJavaOptions":
                  f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                  f"-Xms{os.environ['FUZZSPARK_DRIVER_MEM']}"}
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        extra_conf.update({"spark.eventLog.enabled": "true",
                           "spark.eventLog.dir": f"file://{log_dir}",
                           "spark.eventLog.compress": "false",
                           "spark.eventLog.rolling.enabled": "false"})
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _get_spark(f"perfbench-{args.workload}", cpus, extra_conf)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "ckpt"))
        wl = WORKLOADS[args.workload](spark, inputs, meta,
                                      os.path.join(run_dir, "work"), args.seed)
        tracer = tr.Tracer(spark) if args.trace else None

        # set-up ends with untimed warm-up iterations: Python workers
        # start, the JVM compiles the workload's code paths; checked
        warmup_s, warm_ok = 0.0, True
        for k in range(WARMUP_ITERS):
            t0 = time.perf_counter()
            r = wl.run(-k)  # 0 is the cold one, timed iterations count up
            warmup_s += time.perf_counter() - t0
            v = wl.verify(r)
            wl.cleanup(r)
            if not v["ok"]:
                warm_ok = False
                print(f"warm-up iteration failed its checks: {v}",
                      file=sys.stderr)
        setup_s = get_spark_s + warmup_s
        # the same seed must give the same output in every iteration and
        # on every run of the same engine source: the first such run
        # stores the digest
        src = gen.source_digest(os.path.join(ROOT, "fuzzspark"))
        digest_path = os.path.join(inputs, f"output_digest-{src}")
        digest = None
        if os.path.exists(digest_path):
            with open(digest_path) as f:
                digest = f.read()

        results, traced, untraced_wall, iter_s, probes = [], [], [], [], []
        attempted = failed = 0
        loop_t0 = time.perf_counter()
        ticks0 = tr.cpu_ticks()
        it = 0
        # at least two: the first timed stream query still runs slower
        # than the next, and traced runs alternate untraced and traced
        # iterations
        while it < 2 or _room(loop_t0, args.seconds, iter_s):
            it += 1
            iter_t0 = time.perf_counter()
            trace_it = tracer is not None and it % 2 == 0
            r = None
            try:
                if trace_it:
                    tracer.install(it)
                    with tracer.span("iteration") as it_span:
                        r = wl.run(it)
                    tracer.uninstall()
                else:
                    r = wl.run(it)
                v = wl.verify(r)
                if digest is None and v["ok"]:
                    digest = v["digest"]
                    with open(digest_path, "w") as f:
                        f.write(digest)
                ok = v["ok"] and v["digest"] == digest
                if trace_it:
                    spans = [s for s in tracer.spans if s["iteration"] == it]
                    lm = wl.layers(r, tracer, spans)
                    lm["trace.span_coverage"] = 1.0 - tracer.self_time(
                        it_span) / (it_span["end"] - it_span["start"])
                    traced.append(dict(wall_s=r["wall_s"], layers=lm,
                                       start=it_span["start"],
                                       end=it_span["end"]))
                else:
                    untraced_wall.append(r["wall_s"])
            except Exception:
                traceback.print_exc()
                if tracer:
                    tracer.uninstall()
                ok, v = False, dict(f1=0.0)
            finally:
                if r is not None:
                    wl.cleanup(r)
            iter_s.append(time.perf_counter() - iter_t0)
            probes.append(round(tr.probe_us(), 1))
            n_ops = r["ops"] if r else 1
            attempted += n_ops
            if ok:
                results.append(dict(r, f1=v["f1"]))
            else:
                failed += n_ops
                print(f"iteration {it} failed its checks: {v}", file=sys.stderr)
        diag["loop_s"] = time.perf_counter() - loop_t0
        diag["loop_steal_share"] = tr.steal_share(ticks0, tr.cpu_ticks())
        diag["iterations"] = it
        diag.update(get_spark_s=get_spark_s, warmup_s=warmup_s, probes=probes)
        if not results or (tracer and not (traced and untraced_wall)):
            print("too few iterations completed correctly", file=sys.stderr)
            return 1

        peak = tr.peak_rss_mb()
        if args.trace:
            layer_vals = {k: 0.0 for k in PER_LAYER}
            for k in layer_vals:
                vals = [t["layers"][k] for t in traced if k in t["layers"]]
                if vals:
                    layer_vals[k] = statistics.median(vals)
            layer_vals.update(_kernel_us())
            layer_vals["session.get_spark_s"] = get_spark_s
            layer_vals["session.warmup_s"] = warmup_s
            layer_vals["trace.overhead_s"] = (
                statistics.median(t["wall_s"] for t in traced)
                - statistics.median(untraced_wall))
        t0 = time.perf_counter()
        _stop(spark)
        spark = None
        diag["stop_s"] = time.perf_counter() - t0
        if args.trace:
            jobs = tr.read_event_log(log_dir)
            span_by_id = {s["id"]: s for s in tracer.spans}
            sm, by_span = _spark_layers(jobs, traced, span_by_id)
            layer_vals.update(sm)
            tracer.write(os.path.join(SCRATCH, "traces",
                                      f"{args.workload}-s{args.seed}.json"),
                         dict(spark_by_span=by_span, layers=layer_vals))
            diag["spark_by_span"] = by_span
            metrics = {k: {"value": layer_vals[k], "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            walls = [x["wall_s"] for x in results]
            wall = statistics.median(walls)
            # latency of a unit of matching work (a micro-batch, or a
            # whole run_pipeline call); the first micro-batch of each
            # stream query, which caches the reference, is excluded
            op_ms = [ms for x in results
                     for ms in x["unit_ms"][len(x["unit_ms"]) > 1:]]
            p90 = (statistics.quantiles(op_ms, n=10, method="inclusive")[-1]
                   if len(op_ms) > 1 else op_ms[0])
            vals = {"wall_s": wall,
                    "docs_per_s": results[0]["records"] / wall,
                    "pairs_per_s": statistics.median(
                        x["pairs"] / x["wall_s"] for x in results),
                    "match_batch_p50_ms": statistics.median(op_ms),
                    "match_batch_p90_ms": p90,
                    "setup_s": setup_s, "peak_rss_mb": peak,
                    "pair_f1": statistics.median(x["f1"] for x in results)}
            metrics = {k: {"value": vals[k], "unit": u}
                       for k, u in END_TO_END.items()}
        diag.update(run_s=time.perf_counter() - run_t0,
                    load_after=os.getloadavg(), probe_us_after=tr.probe_us(),
                    warm_ok=warm_ok, digest=digest,
                    error_rate=failed / attempted,
                    walls=[x["wall_s"] for x in results])
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": failed == 0 and warm_ok,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
