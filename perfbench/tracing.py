"""Tracing and host probes for the benchmark.

* ``Tracer`` records spans (name, start, end, parent, iteration) around
  calls into the engine's public entry points.  It patches them from the
  benchmark's side only while an iteration is traced, sets the Spark job
  description to the span's id so event-log jobs can be attributed to
  spans, keeps spans in memory and writes them out at the end.
* ``read_event_log`` folds a Spark event log into per-job task metrics
  and the SQL metrics of the Python (Arrow/pandas) plan nodes.
* ``peak_rss_mb``, ``probe_us`` and ``steal_share`` are host-side
  measurements.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time

import oracle

# (module, attribute, span name): the engine entry points each traced
# iteration wraps.  run_pipeline's stage helpers are patched where
# run_pipeline looks them up.
ENTRY_POINTS = [
    ("fuzzspark.pipeline.run", "run_pipeline", "pipeline.run_pipeline"),
    ("fuzzspark.pipeline.run", "block_keys", "blocking.block_keys"),
    ("fuzzspark.pipeline.run", "defuse_skew", "blocking.defuse_skew"),
    ("fuzzspark.pipeline.run", "candidate_pairs", "pairs.candidate_pairs"),
    ("fuzzspark.pipeline.run", "connected_components",
     "cluster.connected_components"),
    ("fuzzspark.streaming.ops", "streaming_fuzzy_match",
     "streaming.streaming_fuzzy_match"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list = []
        self.iteration = None
        # fail loudly, before any run, if an entry point has moved
        for mod, attr, _ in ENTRY_POINTS:
            getattr(importlib.import_module(mod), attr)
        from fuzzspark.pipeline.checkpoint import StageRunner
        StageRunner.run  # noqa: B018 — presence check

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = dict(id=len(self.spans), name=name, iteration=self.iteration,
                 parent=parent["id"] if parent else None, attrs=attrs,
                 start=time.time(), end=None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"span:{s['id']}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"span:{parent['id']}" if parent else None)

    def _wrap(self, fn, name_of):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)
        return wrapped

    def install(self, iteration: int) -> None:
        from fuzzspark.pipeline.checkpoint import StageRunner
        self.iteration = iteration
        for mod, attr, name in ENTRY_POINTS:
            m = importlib.import_module(mod)
            fn = getattr(m, attr)
            self._saved.append((m, attr, fn))
            setattr(m, attr, self._wrap(fn, lambda a, k, n=name: n))
        fn = StageRunner.run
        self._saved.append((StageRunner, "run", fn))
        StageRunner.run = self._wrap(fn, lambda a, k: f"stage.{a[1]}")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)
        self.iteration = None

    def add(self, name: str, start: float, end: float, parent: dict,
            **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming micro-batch
        from its progress report)."""
        self.spans.append(dict(id=len(self.spans), name=name,
                               iteration=parent["iteration"],
                               parent=parent["id"], attrs=attrs,
                               start=start, end=end))

    def children(self, span: dict) -> list:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((max(c["start"], span["start"]),
                      min(c["end"], span["end"])) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(spans=self.spans, **extra), f, indent=1)


_PY_NODE = ("Python", "InArrow", "InPandas")


def _plan_metric_ids(plan: dict, out: dict) -> None:
    if any(k in plan.get("nodeName", "") for k in _PY_NODE):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records: submit/end time, description and summed task
    metrics, including the SQL metrics of Python plan nodes."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not os.path.basename(f).startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    py_ids: dict = {}
    jobs: dict = {}
    stage_job: dict = {}
    tasks = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or \
                    kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev["sparkPlanInfo"], py_ids)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = dict(
                    submit=ev["Submission Time"] / 1000.0, end=None,
                    description=props.get("spark.job.description"),
                    tasks=0, cpu_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
                    spill_bytes=0, task_failures=0, py_rows_out=0,
                    py_bytes_in=0, py_bytes_out=0, py_worker_s=0.0)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        if job is None:
            continue
        job["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            job["task_failures"] += 1
        tm = ev.get("Task Metrics") or {}
        job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        job["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = py_ids.get(acc.get("ID"))
            upd = acc.get("Update")
            if name is None or upd is None:
                continue
            upd = float(upd)
            if name == "number of output rows":
                job["py_rows_out"] += upd
            elif name == "data sent to Python workers":
                job["py_bytes_in"] += upd
            elif name == "data returned from Python workers":
                job["py_bytes_out"] += upd
            elif name == "time to run Python workers":
                job["py_worker_s"] += upd / 1e3
    return list(jobs.values())


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> list[int]:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            kids.setdefault(_ppid(pid), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM and
    its Python workers)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The host-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings: a noisy-neighbour signal."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def probe_us() -> float:
    """Fixed-work single-thread probe: µs per pair of the pure-Python
    oracle ratio on 100 fixed 300-char pairs (best of 3)."""
    import random
    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    pairs = [("".join(rng.choice(alpha) for _ in range(300)),
              "".join(rng.choice(alpha) for _ in range(300)))
             for _ in range(100)]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for a, b in pairs:
            oracle.ratio(a, b)
        best = min(best, time.perf_counter() - t0)
    return best / len(pairs) * 1e6
