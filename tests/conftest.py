import contextlib
import json
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("FUZZSPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from fuzzspark.session import get_spark
    s = get_spark("fuzzspark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@contextlib.contextmanager
def broadcast_gate(spark, value: str):
    """Set the broadcast size gate (``fuzzspark.broadcast.content.
    max_bytes``) for the block, restoring the previous value after."""
    key = "fuzzspark.broadcast.content.max_bytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block submits from this thread: yields a
    namespace whose ``jobs`` holds the count once the block exits.  The
    block runs under its own job group; the previous group comes back
    after."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    counted = types.SimpleNamespace(jobs=None)
    sc.setJobGroup(group, "count_jobs")
    try:
        yield counted
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        # the status tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.jobs = len(sc.statusTracker().getJobIdsForGroup(group))


# run_pipeline's stages and the names of the DataFrames it returns
PIPELINE_STAGES = {"01_files": "files", "02_blocks": "blocks",
                   "03_pairs": "pairs", "04_scores": "scores",
                   "05_clusters": "clusters"}


def assert_stage_schemas(spark, out, fmt="parquet"):
    """Each stage's manifest schema, and the schema of the DataFrame
    ``run_pipeline`` returned for it, equal the schema Spark infers
    when it reads the stage back."""
    runner = out["runner"]
    for stage, name in PIPELINE_STAGES.items():
        path = runner.manifest_path(stage)
        inferred = spark.read.format(fmt).load(os.path.dirname(path)).schema
        with open(path) as f:
            assert json.load(f)["schema"] == inferred.jsonValue(), stage
        assert out[name].schema == inferred, stage


@pytest.fixture
def python_kernels():
    """Score on the pure-Python big-int cores in this process, as when
    no compiler is available; the native library comes back after."""
    from fuzzspark.kernels import _native
    saved = _native._LIB, _native._TRIED
    _native._LIB, _native._TRIED = None, True
    try:
        yield
    finally:
        _native._LIB, _native._TRIED = saved


@pytest.fixture(params=["native", "python"])
def kernel_backend(request):
    """Run a test once per kernel backend.  ``native`` is whatever
    ``get_lib`` loads (the Python cores too under FUZZSPARK_NO_NATIVE)."""
    if request.param == "python":
        request.getfixturevalue("python_kernels")
    return request.param


@pytest.fixture
def driver_finish_at(monkeypatch):
    """``with driver_finish_at(n):`` forces connected_components'
    driver-finish threshold to ``n`` edges inside the block.  ``0``
    keeps any non-empty graph on the distributed star rounds up to the
    fixpoint."""
    from fuzzspark.pipeline import cluster

    @contextlib.contextmanager
    def force(edges: int):
        with monkeypatch.context() as m:
            m.setattr(cluster, "_auto_driver_finish", lambda spark: edges)
            yield

    return force


@pytest.fixture
def blocking_constants(monkeypatch):
    """``with blocking_constants(max_block=2, window=2):`` overrides the
    blocking scheme's constants (``fuzzspark.pipeline.blocking``,
    named in lower case) inside the block."""
    from fuzzspark.pipeline import blocking

    @contextlib.contextmanager
    def override(**values):
        with monkeypatch.context() as m:
            for name, value in values.items():
                m.setattr(blocking, name.upper(), value)
            yield

    return override


def union_find_labels(edges) -> dict:
    """Plain-Python oracle for connected_components: {node: min node
    of its component} over (u, v) pairs.  Self-loops are skipped, so a
    node whose only edges are self-loops is left out, as there."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(parent.setdefault(u, u)), find(parent.setdefault(v, v))
        parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}
