"""The kernel seam: every batch kernel, on the C library (_native.c)
or on Python, and the only place that chooses between them.

Each kernel function runs its C entry point when :func:`get_lib` holds
the library, and otherwise the Python version beside it, built from
the scalar definitions (``_bitpar``, ``common``, ``metrics``): the same
answer either way.  A C entry point that returns non-zero (it could
not allocate) raises, naming the kernel.

The library compiles lazily, once per machine, into a shared cache dir
keyed by the source hash (safe under concurrent python workers via
atomic rename).  When it cannot be built or loaded, ``get_lib`` warns
once, naming the cause, and returns None.  :func:`backend` reports
which backend this process scores with.  Disable with
FUZZSPARK_NO_NATIVE=1.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile
import time
import warnings

import numpy as np

from ._bitpar import lcs_core, levenshtein_core, osa_core, pattern_masks
from .common import common_prefix_len, common_suffix_len, strip_common_affix
from .fuzz import partial_lcs_raw
from .metrics import damerau_distance_raw, jaro_similarity_raw

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_native.c")
_LIB = None
_TRIED = False
_REASON: str | None = None  # why _LIB is None after a failed attempt
_COMPILE_S: float | None = None  # gcc wall time, when this process built it
_GCC_TIMEOUT_S = 120

KIND_LCS = 0
KIND_LEV = 1
KIND_OSA = 2

# modulus of the affine MinHash family (a 61-bit Mersenne prime; the C
# kernel's compile-time constant)
_MERSENNE = (1 << 61) - 1


def _read_source() -> bytes | None:
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        pass
    try:  # imported from the shipped zip: read via the package loader
        import importlib.resources as ir
        return (ir.files(__package__) / "_native.c").read_bytes()
    except Exception:
        return None


def _compile() -> str:
    """Path of the compiled library, building it on a cache miss.
    Raises RuntimeError naming the cause when it cannot be built."""
    global _COMPILE_S
    src = _read_source()
    if src is None:
        raise RuntimeError("kernel source _native.c not found")
    tag = hashlib.sha256(src).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), "fuzzspark_native")
    os.makedirs(cache, exist_ok=True)
    so = os.path.join(cache, f"kernels_{tag}.so")
    if os.path.exists(so):
        return so
    csrc = os.path.join(cache, f"kernels_{tag}.c")
    if not os.path.exists(csrc):
        ctmp = f"{csrc}.{os.getpid()}.tmp"
        with open(ctmp, "wb") as f:
            f.write(src)
        os.replace(ctmp, csrc)
    if shutil.which("gcc") is None:
        raise RuntimeError("gcc not found on PATH")
    tmp = f"{so}.{os.getpid()}.tmp"
    cmd = ["gcc", "-O3", "-shared", "-fPIC", "-o", tmp, csrc]
    t0 = time.perf_counter()
    try:
        r = subprocess.run(cmd, capture_output=True, timeout=_GCC_TIMEOUT_S)
        if r.returncode != 0:
            tail = r.stderr.decode(errors="replace").strip().splitlines()
            raise RuntimeError(f"gcc exited with {r.returncode}: "
                               + " | ".join(tail[-5:]))
        os.replace(tmp, so)  # atomic; racing workers converge on one file
    except subprocess.TimeoutExpired:
        raise RuntimeError(
            f"gcc timed out after {_GCC_TIMEOUT_S} s") from None
    finally:
        if os.path.exists(tmp):
            try:
                os.remove(tmp)
            except OSError:
                pass
    _COMPILE_S = round(time.perf_counter() - t0, 3)
    return so


def get_lib():
    """The loaded kernel library, or None (first call builds and loads
    it; a failure warns once with its cause, see :func:`backend`)."""
    global _LIB, _TRIED, _REASON
    if _TRIED:
        return _LIB
    _TRIED = True
    if os.environ.get("FUZZSPARK_NO_NATIVE"):
        _REASON = "FUZZSPARK_NO_NATIVE is set"
        return None
    try:
        lib = ctypes.CDLL(_compile())
        # es-aware core: code buffers as raw pointers (uint8 or uint32)
        lib.batch_metric_bounded_es.restype = ctypes.c_int
        lib.batch_metric_bounded_es.argtypes = [
            ctypes.c_int,
            ctypes.c_void_p,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_void_p,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_void_p,
            ctypes.c_int64,
        ]
        lib.batch_affix.restype = ctypes.c_int
        lib.batch_affix.argtypes = [
            ctypes.c_int,
            ctypes.c_int64,
            ctypes.c_void_p,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_void_p,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
        ]
        lib.batch_jaro.restype = ctypes.c_int
        lib.batch_jaro.argtypes = [
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.float64, flags="C_CONTIGUOUS"),
        ]
        lib.batch_partial_lcs.restype = ctypes.c_int
        lib.batch_partial_lcs.argtypes = [
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
        ]
        lib.batch_damerau.restype = ctypes.c_int
        lib.batch_damerau.argtypes = [
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
        ]
        lib.batch_minhash.restype = ctypes.c_int
        lib.batch_minhash.argtypes = [
            ctypes.c_void_p,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            ctypes.c_int64,
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.uint64, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.uint64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            ctypes.c_int64,
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
        ]
        lib.batch_union_find.restype = ctypes.c_int
        lib.batch_union_find.argtypes = [
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
            ctypes.c_int64,
            ctypes.c_int64,
            np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS"),
        ]
        _LIB = lib
    except (RuntimeError, OSError, AttributeError) as e:
        _REASON = f"{type(e).__name__}: {e}"
        warnings.warn("fuzzspark native kernels unavailable, scoring falls "
                      f"back to the pure-Python cores: {_REASON}",
                      RuntimeWarning, stacklevel=2)
    return _LIB


def backend() -> dict:
    """Which kernels this process scores with: ``native`` (the C batch
    kernels) or ``python`` (the big-int cores), why not native, and the
    gcc build time when this process built the library (None on a
    cache hit)."""
    lib = get_lib()
    return {"backend": "python" if lib is None else "native",
            "reason": _REASON if lib is None else None,
            "compile_s": _COMPILE_S}


def _flatten_raw(strs: list[str], lens: np.ndarray | None = None):
    """(codes, offsets, elem_size): ASCII batches stay as the raw 1-byte
    encode (no widening copy, 4x less kernel input traffic); anything
    else falls back to uint32 code points."""
    if lens is None:
        lens = np.fromiter((len(s) for s in strs), dtype=np.int64,
                           count=len(strs))
    off = np.zeros(len(strs) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    joined = "".join(strs)
    if not joined:
        return np.zeros(0, dtype=np.uint8), off, 1
    try:
        return (np.frombuffer(joined.encode("ascii"), dtype=np.uint8),
                off, 1)
    except UnicodeEncodeError:
        return (np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32),
                off, 4)


def _flatten(strs: list[str], lens: np.ndarray | None = None):
    """(codes, offsets) as uint32 code points: :func:`_flatten_raw`,
    with an ASCII batch widened (an ASCII byte equals its code
    point)."""
    codes, off, es = _flatten_raw(strs, lens)
    return (codes.astype(np.uint32) if es == 1 else codes), off


def _flatten_pair(pat_strs: list[str], txt_strs: list[str],
                  pat_lens: np.ndarray | None = None,
                  txt_lens: np.ndarray | None = None):
    """(pat, pat_off, txt, txt_off, elem_size): both sides flattened
    by :func:`_flatten_raw` to ONE element size — when only one side is
    ASCII it is widened to uint32 (an ASCII byte equals its code
    point, so the widening is exact)."""
    pat, pat_off, p_es = _flatten_raw(pat_strs, pat_lens)
    txt, txt_off, t_es = _flatten_raw(txt_strs, txt_lens)
    if p_es != t_es:
        if p_es == 1:
            pat = pat.astype(np.uint32)
        else:
            txt = txt.astype(np.uint32)
    return pat, pat_off, txt, txt_off, max(p_es, t_es)


def _checked(kernel: str, rc: int) -> None:
    """Raise when the C kernel ``kernel`` returned non-zero (it could
    not allocate its working memory): no caller rescores silently."""
    if rc != 0:
        raise RuntimeError(f"native kernel {kernel} failed with code {rc}")


def _metric_py(kind: int, pat_strs: list[str],
               txt_strs: list[str]) -> np.ndarray:
    """:func:`native_batch` on the big-int cores: the common affix is
    stripped, then pairs run in pattern order, so equal patterns are
    adjacent (even as distinct objects) and share their masks — the
    ``BatchComparator`` analog (src/distance/levenshtein.rs:1636-1657).
    Exact: there is no bound to abandon at."""
    core = (lcs_core, levenshtein_core, osa_core)[kind]
    stripped = [strip_common_affix(a, b) for a, b in zip(pat_strs, txt_strs)]
    out = np.empty(len(stripped), dtype=np.int64)
    masks = last = None
    for k in sorted(range(len(stripped)), key=lambda k: stripped[k][0]):
        a, b = stripped[k]
        if a != last:
            masks, last = pattern_masks(a), a
        out[k] = core(a, b, masks)
    if kind == KIND_LCS:  # the stripped affix is common subsequence
        out += np.fromiter((len(a) - len(a2) for a, (a2, _b)
                            in zip(pat_strs, stripped)),
                           dtype=np.int64, count=len(stripped))
    return out


def native_batch(kind: int, pat_strs: list[str], txt_strs: list[str],
                 bounds: np.ndarray | None = None,
                 pat_lens: np.ndarray | None = None,
                 txt_lens: np.ndarray | None = None) -> np.ndarray:
    """Full-string metric per pair, common affix stripped inside.
    kind 0: LCS similarity; 1: levenshtein distance; 2: OSA distance.
    ``bounds`` (optional int64, -1 = none): per-pair early-abandon
    bound (min passing LCS / max passing distance); the C kernel
    returns -1 for an abandoned pair (provably outside the cutoff), the
    Python cores ignore it and compute exactly.  ``pat_lens``/
    ``txt_lens``: optional precomputed lengths (skips one python pass
    per side)."""
    lib = get_lib()
    if lib is None or not pat_strs:
        return _metric_py(kind, pat_strs, txt_strs)
    pat, pat_off, txt, txt_off, es = _flatten_pair(pat_strs, txt_strs,
                                                   pat_lens, txt_lens)
    out = np.empty(len(pat_strs), dtype=np.int64)
    b = (None if bounds is None
         else np.ascontiguousarray(bounds, dtype=np.int64))
    _checked("batch_metric_bounded_es", lib.batch_metric_bounded_es(
        kind,
        pat.ctypes.data_as(ctypes.c_void_p), pat_off,
        txt.ctypes.data_as(ctypes.c_void_p), txt_off,
        len(pat_strs), out,
        None if b is None else b.ctypes.data_as(ctypes.c_void_p),
        es))
    return out


def native_affix(mode: int, pat_strs: list[str], txt_strs: list[str],
                 cap: int = 0) -> np.ndarray:
    """Common affix length per pair (mode 0 = prefix, 1 = suffix);
    cap > 0 bounds the scan."""
    lib = get_lib()
    if lib is None or not pat_strs:
        affix = common_prefix_len if mode == 0 else common_suffix_len
        cut = (slice(None) if cap <= 0 else slice(cap) if mode == 0
               else slice(-cap, None))
        return np.fromiter((affix(a[cut], b[cut])
                            for a, b in zip(pat_strs, txt_strs)),
                           np.int64, count=len(pat_strs))
    pat, pat_off, txt, txt_off, es = _flatten_pair(pat_strs, txt_strs)
    out = np.empty(len(pat_strs), dtype=np.int64)
    _checked("batch_affix", lib.batch_affix(
        mode, cap,
        pat.ctypes.data_as(ctypes.c_void_p), pat_off,
        txt.ctypes.data_as(ctypes.c_void_p), txt_off,
        len(pat_strs), out, es))
    return out


def native_partial_lcs(pat_strs: list[str], txt_strs: list[str]
                       ) -> np.ndarray:
    """max LCS of pat against any equal-length window of txt
    (:func:`fuzz.partial_lcs_raw`; pat must be the shorter side)."""
    lib = get_lib()
    if lib is None or not pat_strs:
        return np.fromiter(map(partial_lcs_raw, pat_strs, txt_strs),
                           np.int64, count=len(pat_strs))
    pat, pat_off = _flatten(pat_strs)
    txt, txt_off = _flatten(txt_strs)
    out = np.empty(len(pat_strs), dtype=np.int64)
    _checked("batch_partial_lcs", lib.batch_partial_lcs(
        pat, pat_off, txt, txt_off, len(pat_strs), out))
    return out


def native_jaro(pat_strs: list[str], txt_strs: list[str]) -> np.ndarray:
    """Jaro similarity per pair (:func:`metrics.jaro_similarity_raw`)."""
    lib = get_lib()
    if lib is None or not pat_strs:
        return np.fromiter(map(jaro_similarity_raw, pat_strs, txt_strs),
                           np.float64, count=len(pat_strs))
    pat, pat_off = _flatten(pat_strs)
    txt, txt_off = _flatten(txt_strs)
    out = np.empty(len(pat_strs), dtype=np.float64)
    _checked("batch_jaro", lib.batch_jaro(
        pat, pat_off, txt, txt_off, len(pat_strs), out))
    return out


def _minhash_py(strs: list[str], k: int, A: np.ndarray, B: np.ndarray,
                n_bands: int, rows_per_band: int) -> np.ndarray:
    """:func:`native_minhash` in numpy, one document at a time: the
    definition the C kernel is bit-exact with, and the one the DuckDB
    oracle re-derives."""
    Au = A.astype(np.uint64)[:, None]
    Bu = B.astype(np.uint64)[:, None]
    band_off = np.arange(n_bands, dtype=np.int64) << np.int64(56)
    rows = np.empty((len(strs), n_bands), dtype=np.int64)
    for pos, t in enumerate(strs):
        if len(t) < k:
            # deterministic short-string hash (Python hash() is
            # salted).  The uint64 overflow is the INTENDED FNV
            # wrap — silence numpy's per-doc RuntimeWarning
            hv = np.uint64(1469598103934665603)
            with np.errstate(over="ignore"):
                for ch in t:
                    hv = (hv * np.uint64(1099511628211)) \
                        ^ np.uint64(ord(ch))
            shingles = np.array([np.int64(hv >> np.uint64(1))], dtype=np.int64)
        else:
            # vectorized shingle hashing: polynomial over code points
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            codes = codes.astype(np.uint64)
            h = np.zeros(len(codes) - k + 1, dtype=np.uint64)
            for i in range(k):
                h = h * np.uint64(1000003) + codes[i: len(codes) - k + 1 + i]
            shingles = np.unique(h).astype(np.int64) & 0x7FFFFFFFFFFFFFFF
        # minhash: (a*x + b) mod p, min over shingles, per hash fn
        x = shingles.astype(np.uint64)[None, :]
        vals = (Au * x + Bu) % np.uint64(_MERSENNE)
        sig = vals.min(axis=1)  # (n_hashes,)
        bands = sig.reshape(n_bands, rows_per_band)
        keys = np.zeros(n_bands, dtype=np.uint64)
        for r in range(rows_per_band):
            keys = keys * np.uint64(0x9E3779B97F4A7C15) + bands[:, r]
        keys = (keys >> np.uint64(1)).astype(np.int64)  # keep positive
        keys += band_off
        rows[pos] = keys
    return rows


def native_minhash(strs: list[str], k: int, A: np.ndarray, B: np.ndarray,
                   n_bands: int, rows_per_band: int) -> np.ndarray:
    """MinHash-LSH band keys of a batch of (already truncated,
    non-null) strings over ``k``-char shingles, hash family (A, B) mod
    ``_MERSENNE``: (n_docs, n_bands) int64, band index in the top byte
    so bands never collide.  The C kernel strength-reduces the
    compile-time Mersenne modulus and runs with no per-doc python."""
    lib = get_lib()
    n = len(strs)
    if lib is None or not n:
        return _minhash_py(strs, k, A, B, n_bands, rows_per_band)
    txt, off, es = _flatten_raw(strs)
    out = np.empty(n * n_bands, dtype=np.int64)
    _checked("batch_minhash", lib.batch_minhash(
        txt.ctypes.data_as(ctypes.c_void_p), off, n, es, int(k),
        np.ascontiguousarray(A, dtype=np.uint64),
        np.ascontiguousarray(B, dtype=np.uint64),
        len(A), int(n_bands), int(rows_per_band), out))
    return out.reshape(n, n_bands)


def union_find_roots(du: np.ndarray, dv: np.ndarray,
                     n_nodes: int) -> np.ndarray:
    """Component minimum (as dense id) per dense node id, given edges
    (du[i], dv[i]) over ids in [0, n_nodes).  C kernel when available
    (~20 ns/edge), else a python union-find — identical results."""
    lib = get_lib()
    p = np.arange(n_nodes, dtype=np.int64)
    m = len(du)
    if not m:
        return p
    if lib is not None:
        du = np.ascontiguousarray(du, dtype=np.int64)
        dv = np.ascontiguousarray(dv, dtype=np.int64)
        _checked("batch_union_find",
                 lib.batch_union_find(du, dv, m, n_nodes, p))
        return p
    # pure-python union-by-min with path halving

    def find(x: int) -> int:
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for a, b in zip(du.tolist(), dv.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                p[rb] = ra
            else:
                p[ra] = rb
    for i in range(n_nodes):
        p[i] = find(i)
    return p


def native_damerau(pat_strs: list[str], txt_strs: list[str]
                   ) -> np.ndarray:
    """Unrestricted Damerau-Levenshtein distance per pair
    (:func:`metrics.damerau_distance_raw`).  The C kernel is Zhao-Sahni
    linear-space: any input length, O(n + sigma) working memory."""
    lib = get_lib()
    if lib is None or not pat_strs:
        return np.fromiter(map(damerau_distance_raw, pat_strs, txt_strs),
                           np.int64, count=len(pat_strs))
    pat, pat_off = _flatten(pat_strs)
    txt, txt_off = _flatten(txt_strs)
    out = np.empty(len(pat_strs), dtype=np.int64)
    _checked("batch_damerau", lib.batch_damerau(
        pat, pat_off, txt, txt_off, len(pat_strs), out))
    return out
