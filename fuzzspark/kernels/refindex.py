"""The streaming matcher's reference index, free of Spark and pandas.

The reference side of a stream match is static, so its block keys are
computed once, on the driver, and shipped to the executors in ONE
broadcast with the reference's :class:`~fuzzspark.kernels.content.
ContentTable`: per key kind a sorted unique key array with CSR offsets
into the table positions carrying each key.  A micro-batch probes it
with ``searchsorted`` inside a single Arrow map — no per-batch join,
exchange or second broadcast.  Flat arrays rather than a dict of
per-key arrays: a pickled numpy array loads with one buffer copy, not
one object per key.  The module imports numpy and the kernels only, so
an executor that unpickles the broadcast loads neither pyspark.sql nor
pandas for it.

Keys come from the same expressions as the batch pipeline's
``fuzzspark.pipeline.blocking.block_keys`` (via ``block_key_columns``):
the exact and path families arrive as their finished string keys, the
MinHash family as normalized content that both sides run through the
same :func:`~fuzzspark.kernels.minhash.make_minhash_matrix` kernel.
String keys are matched as UTF-8 bytes, MinHash keys as the int64 band
key that ``block_keys`` renders as ``'m:' || band_key``, so every key
compares exactly as its string form would.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .content import ContentTable

__all__ = ["KeyCSR", "RefIndex", "doc_keys", "source_name"]

STRING_FAMILIES = ("exact", "path")


def source_name(family: str) -> str:
    """Column name under which a key family's source travels."""
    return f"__k_{family}"


def doc_keys(batch, matrix) -> tuple:
    """Block keys of every row of an Arrow batch (or table) carrying a
    ``source_name`` column per key family: ``((str_keys, str_rows),
    (band_keys, band_rows))`` — string keys as a numpy bytes array,
    MinHash band keys as int64, each with the row it came from.  NULL
    sources yield no key, just as a NULL ``block_key`` joins nothing.
    ``matrix`` is a :func:`make_minhash_matrix` instance."""
    skeys, srows = [], []
    for fam in STRING_FAMILIES:
        for i, v in enumerate(batch.column(source_name(fam)).to_pylist()):
            if v is not None:
                skeys.append(v.encode())
                srows.append(i)
    idx, keys = matrix(batch.column(source_name("minhash")).to_pylist())
    return ((np.array(skeys, dtype=bytes), np.array(srows, dtype=np.int64)),
            (keys.ravel(), np.repeat(idx, keys.shape[1])))


@dataclass
class KeyCSR:
    """Sorted unique ``keys``; the reference positions carrying
    ``keys[k]`` are ``refs[offsets[k]:offsets[k + 1]]``."""

    keys: np.ndarray
    offsets: np.ndarray
    refs: np.ndarray

    @classmethod
    def build(cls, keys: np.ndarray, refs: np.ndarray,
              max_block: int) -> tuple["KeyCSR", int]:
        """Group ``refs`` by ``keys``; keys carried by more than
        ``max_block`` rows are dropped.  Returns the index and the
        number of keys dropped."""
        order = np.argsort(keys, kind="stable")
        keys, refs = keys[order], refs[order]
        uniq, counts = np.unique(keys, return_counts=True)
        keep = counts <= max_block
        offsets = np.zeros(int(keep.sum()) + 1, dtype=np.int64)
        np.cumsum(counts[keep], out=offsets[1:])
        return (cls(uniq[keep], offsets, refs[np.repeat(keep, counts)]),
                int((~keep).sum()))

    def probe(self, keys: np.ndarray, rows: np.ndarray) -> tuple:
        """(row, ref) for every reference position sharing a key with
        a probe row."""
        at = np.searchsorted(self.keys, keys)
        hit = at < len(self.keys)
        hit[hit] = self.keys[at[hit]] == keys[hit]
        at, rows = at[hit], rows[hit]
        lo = self.offsets[at]
        n = self.offsets[at + 1] - lo
        pick = np.repeat(np.arange(len(at)), n)
        within = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n)
        return rows[pick], self.refs[lo[pick] + within]

    @property
    def nbytes(self) -> int:
        return self.keys.nbytes + self.offsets.nbytes + self.refs.nbytes


@dataclass
class RefIndex:
    """The broadcast reference side: its :class:`ContentTable`, and one
    :class:`KeyCSR` per key kind (string keys, MinHash band keys) whose
    reference positions are positions in that table."""

    table: ContentTable
    strs: KeyCSR
    bands: KeyCSR
    hot_keys_dropped: int

    @classmethod
    def build(cls, table, matrix, max_block: int) -> "RefIndex":
        """``table``: Arrow table of (id, content, source columns)."""
        content, table = ContentTable.from_arrow(table)
        (sk, sr), (bk, br) = doc_keys(table, matrix)
        strs, hot_s = KeyCSR.build(sk, sr, max_block)
        bands, hot_b = KeyCSR.build(bk, br, max_block)
        return cls(content, strs, bands, hot_s + hot_b)

    def candidates(self, batch, matrix) -> tuple:
        """Distinct (row, ref position) candidate pairs of a probe
        batch."""
        (sk, sr), (bk, br) = doc_keys(batch, matrix)
        r1, p1 = self.strs.probe(sk, sr)
        r2, p2 = self.bands.probe(bk, br)
        n = max(len(self.table.ids), 1)
        pair = np.unique(np.concatenate([r1 * n + p1, r2 * n + p2]))
        return pair // n, pair % n

    @property
    def n_keys(self) -> int:
        return len(self.strs.keys) + len(self.bands.keys)

    @property
    def nbytes(self) -> int:
        """Bytes of the arrays (the texts are not counted)."""
        t = self.table
        return (t.ids.nbytes + t.lens.nbytes + t.null.nbytes
                + self.strs.nbytes + self.bands.nbytes)
