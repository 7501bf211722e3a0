"""Streaming matcher: the broadcast reference index against the join
plan and the DuckDB oracle.

* ``q_streaming_match`` equals its DuckDB oracle edge for edge, score
  for score, on both sides of the broadcast gate.
* Edge cases (no key hit, empty reference, NULL content/path, a key
  family turned off) give the join plan's edges on the index path.
* ``KeyCSR`` probes equal a brute-force key match.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from fuzzspark.kernels import _native
from fuzzspark.streaming.index import KeyCSR
from fuzzspark.streaming.ops import _match_batch
from tests.conftest import broadcast_gate

# gate value -> the matcher path it selects for a non-empty reference
PATHS = {"64m": "broadcast_index", "0": "join"}

SCHEMA = ("id: long, repo: string, path: string, commit: string, "
          "lang: string, content: string")


@pytest.fixture(scope="module")
def streaming_oracle(sf_dir):
    """The DuckDB twin of q_streaming_match (~90 s on one core: computed
    once for both gate sides)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    return con.execute(em.oracle_sql()["streaming_match"]).fetchdf()


@pytest.mark.parametrize("gate", sorted(PATHS))
def test_streaming_match_oracle_exact(spark, sf_dir, gate, monkeypatch,
                                      streaming_oracle):
    import fuzzspark.streaming as fs
    plans = []
    real = fs.streaming_fuzzy_match

    def spy(*a, **k):
        q = real(*a, **k)
        plans.append(q.match_plan)
        return q

    monkeypatch.setattr(fs, "streaming_fuzzy_match", spy)
    with broadcast_gate(spark, gate):
        sdf = em.queries()["streaming_match"](spark, sf_dir).toPandas()
    assert [p["path"] for p in plans] == [PATHS[gate]]
    key = ["stream_id", "ref_id", "score"]
    s = sdf[key].sort_values(by=key).reset_index(drop=True)
    o = streaming_oracle[key].sort_values(by=key).reset_index(drop=True)
    assert len(s) > 0
    pd.testing.assert_frame_equal(s, o, check_dtype=False, rtol=0, atol=0)


def _edges_both_paths(spark, ref, batch, blocking=None, threshold=0.8):
    """Edges of each matcher path; asserts each gate picked its path."""
    bk = blocking or dict(use_exact=True, use_path=True, use_minhash=True)
    out = {}
    for gate, path in PATHS.items():
        with broadcast_gate(spark, gate):
            m = _match_batch(ref, "ratio", threshold, bk)
        try:
            assert m.plan["path"] == path
            assert m.plan["kernel_backend"] == _native.backend()["backend"]
            out[gate] = sorted(map(tuple, m(batch).collect()))
        finally:
            m.unpersist()
    assert out["64m"] == out["0"]
    return out["64m"]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "r", p, "c", "en", t) for i, p, t in rows], SCHEMA)


REF_ROWS = [
    (1, "src/alpha.py", "the quick brown fox jumps over the lazy dog"),
    (2, "src/beta.py", "lorem ipsum dolor sit amet consectetur elit"),
    (3, "lib/gamma.py", "pack my box with five dozen liquor jugs now"),
]


def test_no_key_hit_batch(spark):
    ref = _docs(spark, REF_ROWS)
    batch = _docs(spark, [(10, "x/zeta.rs", "completely unrelated words"),
                          (11, "y/omega.rs", "nothing shared here at all")])
    assert _edges_both_paths(spark, ref, batch) == []


def test_empty_reference(spark):
    ref = _docs(spark, []).where(F.lit(False))
    batch = _docs(spark, REF_ROWS)
    # an empty reference fits any positive gate; a gate of 0 turns the
    # index off
    assert _edges_both_paths(spark, ref, batch) == []


NON_BMP = "\U0001d4b3 script x and \U0001F600 emoji, two UTF-16 units each"


def test_null_content_and_path_rows(spark):
    # a NULL-id reference row carries the same content and path as id 1
    ref = _docs(spark, REF_ROWS + [(4, None, "the quick brown fox jumps "
                                             "over the lazy cat"),
                                   (5, "src/alpha.py", None),
                                   (6, "doc/emoji.md", NON_BMP),
                                   (None, REF_ROWS[0][1], REF_ROWS[0][2])])
    batch = _docs(spark, [(10, "src/alpha.py", "the quick brown fox jumps "
                                               "over the lazy dog!"),
                          (11, None, "lorem ipsum dolor sit amet "
                                     "consectetur elit"),
                          (12, "src/beta.py", None),
                          (13, "doc/emoji.md", NON_BMP + "\U0001F600")])
    got = _edges_both_paths(spark, ref, batch)
    assert {(s, r) for s, r, _ in got} >= {(10, 1), (11, 2)}
    # code points, not UTF-16 units: one insertion over n + (n + 1)
    n = len(NON_BMP)
    assert (13, 6, round(2 * n / (2 * n + 1), 6)) in got
    assert not any(s == 12 or r == 5 or r is None for s, r, _ in got)


@pytest.mark.parametrize("off", ["use_exact", "use_path", "use_minhash"])
def test_one_key_family_off(spark, off):
    ref = _docs(spark, REF_ROWS)
    batch = _docs(spark, [
        (10, "src/alpha.py", "the quick brown fox jumps over the lazy dog"),
        (11, "other/beta.py", "lorem ipsum dolor sit amet consectetur elit!"),
        (12, "lib/gamma.py", "pack my box with five dozen liquor jugs"),
    ])
    bk = dict(use_exact=True, use_path=True, use_minhash=True)
    bk[off] = False
    assert _edges_both_paths(spark, ref, batch, blocking=bk)


def test_key_csr_probe_matches_brute_force():
    rng = np.random.default_rng(5)
    keys = rng.integers(0, 40, 300)
    refs = rng.integers(0, 120, 300)
    probe = rng.integers(0, 50, 80)
    rows = np.arange(80)
    for max_block in (None, 6):
        csr, hot = KeyCSR.build(keys, refs, max_block)
        counts = {k: int((keys == k).sum()) for k in set(keys.tolist())}
        keep = {k for k, c in counts.items() if not max_block or c <= max_block}
        assert hot == len(counts) - len(keep)
        want = sorted((int(r), int(f)) for r, k in zip(rows, probe) if k in keep
                      for f in refs[keys == k])
        got = sorted(zip(*(a.tolist() for a in csr.probe(probe, rows))))
        assert got == want


def test_key_csr_bytes_keys_of_any_width():
    keys = np.array([b"x:ab", b"p:en/foo", b"x:ab", b"p:en/"], dtype=bytes)
    csr, _ = KeyCSR.build(keys, np.array([0, 1, 2, 3]), None)
    probe = np.array([b"x:abc", b"p:en/foo", b"x:ab", b"p:en"], dtype=bytes)
    r, f = csr.probe(probe, np.arange(4))
    assert sorted(zip(r.tolist(), f.tolist())) == [(1, 1), (2, 0), (2, 2)]
