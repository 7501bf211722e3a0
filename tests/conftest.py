import contextlib
import os
import sys

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
