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

import numpy as np
import pytest

from fuzzspark.kernels import _native
from fuzzspark.kernels.batch import batch_scores
from fuzzspark.kernels.minhash import _hash_family
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


# (pat, txt) batches every kernel answers on: empty, one pair, text
# beyond the BMP, and an ASCII side against a non-ASCII one (the C
# wrappers widen the ASCII side); pat is never the longer side
SEAM_BATCHES = {
    "empty": ([], []),
    "one_pair": (["kitten"], ["sitting"]),
    "non_bmp": (["𝔘𝔫𝔦😀x", "😀😀", ""], ["𝔘𝔫𝔦😀yz", "a😀😀", "𝄞"]),
    "ascii_vs_non_ascii": (["hello world", "abc", "ab"],
                           ["héllo wörld", "ábcd", "ab😀"]),
}


@pytest.mark.parametrize("batch", sorted(SEAM_BATCHES))
def test_every_kernel_answers_the_scalar_definition(kernel_backend, batch):
    """Each ``_native`` kernel returns an array (never None) equal to
    the scalar definition, on either backend."""
    from fuzzspark.kernels import common, fuzz, metrics

    pat, txt = SEAM_BATCHES[batch]
    pairs = list(zip(pat, txt))

    def same(got, want):
        assert got is not None
        assert np.asarray(got).tolist() == list(want)

    for kind, fn in ((_native.KIND_LCS, metrics.lcs_similarity_raw),
                     (_native.KIND_LEV, metrics.levenshtein_distance_raw),
                     (_native.KIND_OSA, metrics.osa_distance_raw)):
        same(_native.native_batch(kind, pat, txt), [fn(a, b) for a, b in pairs])
    same(_native.native_affix(0, pat, txt),
         [common.common_prefix_len(a, b) for a, b in pairs])
    same(_native.native_affix(1, pat, txt),
         [common.common_suffix_len(a, b) for a, b in pairs])
    same(_native.native_affix(0, pat, txt, cap=2),
         [min(2, common.common_prefix_len(a, b)) for a, b in pairs])
    same(_native.native_partial_lcs(pat, txt),
         [fuzz.partial_lcs_raw(a, b) for a, b in pairs])
    same(_native.native_jaro(pat, txt),
         [metrics.jaro_similarity_raw(a, b) for a, b in pairs])
    same(_native.native_damerau(pat, txt),
         [metrics.damerau_distance_raw(a, b) for a, b in pairs])
    A, B = _hash_family(8, 7)
    docs = pat + txt
    got = _native.native_minhash(docs, 3, A, B, 4, 2)
    assert got.shape == (len(docs), 4)
    assert np.array_equal(got, _native._minhash_py(docs, 3, A, B, 4, 2))
    du = np.arange(len(pat), dtype=np.int64)
    same(_native.union_find_roots(du, du[::-1], len(pat)),
         [min(i, len(pat) - 1 - i) for i in range(len(pat))])


class _FailingLib:
    """A loaded library whose every entry point reports a failed
    allocation."""

    def __getattr__(self, name):
        return lambda *args: 1


@pytest.mark.parametrize("kernel, call", [
    ("batch_metric_bounded_es",
     lambda: _native.native_batch(_native.KIND_LEV, ["ab"], ["abc"])),
    ("batch_affix", lambda: _native.native_affix(0, ["ab"], ["abc"])),
    ("batch_partial_lcs", lambda: _native.native_partial_lcs(["ab"], ["abc"])),
    ("batch_jaro", lambda: _native.native_jaro(["ab"], ["abc"])),
    ("batch_damerau", lambda: _native.native_damerau(["ab"], ["abc"])),
    ("batch_minhash", lambda: _native.native_minhash(
        ["abcdef"], 3, *_hash_family(8, 7), 4, 2)),
    ("batch_union_find", lambda: _native.union_find_roots(
        np.array([0]), np.array([1]), 2)),
    # batch_scores surfaces the failure instead of rescoring on Python
    ("batch_metric_bounded_es", lambda: batch_scores(
        "ratio", "normalized_similarity", ["kitten"], ["sitting"])),
])
def test_failed_native_call_raises_naming_the_kernel(monkeypatch, kernel,
                                                     call):
    monkeypatch.setattr(_native, "_LIB", _FailingLib())
    monkeypatch.setattr(_native, "_TRIED", True)
    with pytest.raises(RuntimeError, match=f"native kernel {kernel} failed"):
        call()


def test_unpickled_kernels_load_no_pandas_or_spark(tmp_path):
    """A worker that unpickles the stream's broadcast ``RefIndex`` or a
    map closing over ``make_minhash_matrix`` (02_blocks' key rows, the
    stream's match function) imports numpy and the kernels only: no
    pandas, no pyspark.sql, no fuzzspark.pipeline."""
    import cloudpickle
    import pyarrow as pa

    from fuzzspark.kernels.minhash import make_minhash_matrix
    from fuzzspark.kernels.refindex import RefIndex, source_name
    from fuzzspark.pipeline import blocking

    mh = blocking.minhash_params()
    texts = ["def f(x):\n    return x + 1\n", None, "def g(y): return y"]
    table = pa.table({"id": [3, 1, 2], "content": texts,
                      source_name("exact"): ["x:1", None, "x:2"],
                      source_name("path"): ["p:a", "p:a", None],
                      source_name("minhash"): texts})
    index = RefIndex.build(table, make_minhash_matrix(**mh),
                           blocking.MAX_BLOCK)

    def band_keys(docs):
        return make_minhash_matrix(**mh)(docs)[1]

    blob = tmp_path / "task.pkl"
    blob.write_bytes(cloudpickle.dumps((index, band_keys)))
    code = """
import json, pickle, sys
with open(sys.argv[1], "rb") as f:
    index, band_keys = pickle.load(f)
keys = band_keys(["def f(x):\\n    return x + 1\\n"])
print(json.dumps({"n_keys": index.n_keys, "keys": keys.tolist(),
                  "loaded": [m for m in ("pandas", "pyspark.sql",
                                         "fuzzspark.pipeline")
                             if m in sys.modules]}))
"""
    r = subprocess.run([sys.executable, "-c", code, str(blob)], cwd=ROOT,
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["loaded"] == []
    assert got["n_keys"] == index.n_keys
    assert got["keys"] == band_keys([texts[0]]).tolist()
