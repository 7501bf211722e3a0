"""The broadcast side of pair scoring: a corpus's content by id.

Below the broadcast gate (:func:`fuzzspark.pipeline.util.broadcast_fits`)
the driver collects the content scored against once, as an Arrow
``(id, content)`` table, and broadcasts it as flat arrays: 04_scores
looks both sides of each pair up in it, and the streaming matcher's
:class:`~fuzzspark.kernels.refindex.RefIndex` addresses the reference by
position in it.  Rows whose id is NULL never enter it: no pair or block
key can name them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .batch import batch_scores

__all__ = ["ContentTable"]


@dataclass
class ContentTable:
    """``ids`` ascending (int64), with per position the text (object,
    None for NULL content), its code-point length (int32, 0 where NULL)
    and the NULL mask."""

    ids: np.ndarray
    texts: np.ndarray
    lens: np.ndarray
    null: np.ndarray

    @classmethod
    def from_arrow(cls, table) -> tuple["ContentTable", object]:
        """Build from an Arrow table with ``id`` and ``content`` columns.
        Returns the content table and ``table`` in its row order (NULL
        ids dropped, ascending id), so that a row number of the latter
        is a position of the former."""
        import pyarrow.compute as pc
        table = table.filter(pc.is_valid(table.column("id"))).sort_by("id")
        # the lengths F.length gives: code points, NULL for NULL content
        lens = pc.utf8_length(table.column("content"))
        return cls(np.asarray(table.column("id").to_numpy(), np.int64),
                   table.column("content").to_numpy(zero_copy_only=False),
                   lens.fill_null(0).to_numpy().astype(np.int32),
                   np.asarray(lens.is_null().to_numpy(), bool)), table

    def positions(self, ids: np.ndarray) -> np.ndarray:
        """The position of each of ``ids``.  Raises when one is not in
        the table: a bug guard only, since a pair's ids derive from the
        same corpus (stage lineage chains 03_pairs to the 01_files it
        was built from, so a resume cannot pair ids of another)."""
        n = len(self.ids)
        at = np.searchsorted(self.ids, ids)
        if len(ids) and (not n or (self.ids[np.minimum(at, n - 1)]
                                   != ids).any()):
            raise RuntimeError("pair id missing from the broadcast content "
                               "(pairs must derive from the same corpus)")
        return at

    def scores(self, scorer: str, texts: np.ndarray, pos: np.ndarray,
               cutoff: float) -> np.ndarray:
        """``normalized_similarity`` of each of ``texts`` against the
        text at the matching position, NaN below ``cutoff`` (the cutoff
        is pushed into the kernel, src/common.rs:73-86)."""
        return batch_scores(scorer, "normalized_similarity", texts,
                            self.texts[pos], score_cutoff=cutoff)
