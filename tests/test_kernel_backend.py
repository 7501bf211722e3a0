"""Which kernel backend scores, and how a missing native kernel shows.

A failed gcc build or library load must not be silent: ``get_lib``
warns once with the cause, ``backend()`` reports the Python fallback,
and the 04_scores manifest carries the backend (``query.match_plan``
is checked in test_stream_index.py).
"""

import inspect
import json
import os
import re
import subprocess
import sys

import pytest

from fuzzspark.kernels import _native
from tests.conftest import broadcast_gate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# fake compilers on an otherwise empty PATH (the shebang is absolute)
FAKE_GCC = {
    "missing": None,
    "failing": "#!/bin/sh\necho 'fatal error: no space left on device' >&2\n"
               "exit 4\n",
    # exits 0 but writes a file that is no shared library
    "broken": '#!/bin/sh\nwhile [ "$1" != "-o" ]; do shift; done\n'
              'echo junk > "$2"\n',
}
CAUSE = {
    "missing": "gcc not found on PATH",
    "failing": "gcc exited with 4: fatal error: no space left on device",
    "broken": "OSError: ",
}


@pytest.mark.parametrize("gcc", sorted(FAKE_GCC))
def test_compile_failure_warns_once_and_reports_python(tmp_path, gcc):
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    if FAKE_GCC[gcc] is not None:
        (bin_dir / "gcc").write_text(FAKE_GCC[gcc])
        (bin_dir / "gcc").chmod(0o755)
    cache = tmp_path / "tmp"  # cold .so cache
    cache.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "FUZZSPARK_NO_NATIVE"}
    env.update(PATH=str(bin_dir), TMPDIR=str(cache))
    code = """
import json, warnings
from fuzzspark.kernels import _native
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    libs = [_native.get_lib(), _native.get_lib()]
print(json.dumps({"none": [lib is None for lib in libs],
                  "warnings": [str(w.message) for w in caught
                               if w.category is RuntimeWarning],
                  "backend": _native.backend()}))
"""
    r = subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT,
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["none"] == [True, True]
    assert len(got["warnings"]) == 1, got["warnings"]
    assert CAUSE[gcc] in got["warnings"][0]
    assert got["backend"]["backend"] == "python"
    assert CAUSE[gcc] in got["backend"]["reason"]


@pytest.mark.parametrize("gate,path", [("64m", "broadcast"), ("0", "shuffle")])
def test_scores_manifest_records_backend_and_path(spark, tmp_path, gate,
                                                  path):
    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    from fuzzspark.pipeline import run_pipeline

    corpus = generate_corpus(n_clusters=8, seed=3, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "wd")
    with broadcast_gate(spark, gate):
        run_pipeline(spark, files, wd)
    with open(os.path.join(wd, "04_scores", "_MANIFEST.json")) as f:
        extra = json.load(f)["extra"]
    assert extra == {"kernel_backend": _native.backend()["backend"],
                     "score_path": path}


def test_every_exported_kernel_is_declared_and_called():
    """Each non-static function _native.c defines is called from
    _native.py as ``lib.<name>(`` and has ``argtypes`` and ``restype``
    declared in ``get_lib``: the library exports no dead entry point,
    and none is called through ctypes' int-only default signature."""
    with open(_native._SRC) as f:
        c_src = f.read()
    exported = re.findall(
        r"^(?!static\b|typedef\b)[A-Za-z_][\w \t*]*?\b(\w+)\s*\(",
        c_src, flags=re.MULTILINE)
    assert exported, "no function definitions found in _native.c"
    with open(_native.__file__) as f:
        py_src = f.read()
    loader = inspect.getsource(_native.get_lib)
    for name in exported:
        assert f"lib.{name}(" in py_src, f"{name} is never called"
        assert f"lib.{name}.argtypes = " in loader, f"{name}: no argtypes"
        assert f"lib.{name}.restype = " in loader, f"{name}: no restype"


def test_partial_ratio_equals_ratio_on_equal_lengths(kernel_backend):
    """An equal-length pair is a single window, so its ``partial_ratio``
    is its ``ratio`` bit for bit, on either backend."""
    import random

    from fuzzspark.kernels.batch import batch_scores

    rng = random.Random(3)
    s1, s2 = ["hello world", "kitten", "ünïcode", ""], \
        ["world hello", "sittin", "unicöde", ""]
    for n in (1, 7, 63, 64, 65, 130):
        for _ in range(8):
            s1.append("".join(rng.choice("abcde ") for _ in range(n)))
            s2.append("".join(rng.choice("abcde ") for _ in range(n)))
    got = batch_scores("partial_ratio", "similarity", s1, s2)
    want = batch_scores("ratio", "similarity", s1, s2)
    assert got.tolist() == want.tolist()
