"""Candidate-pair generation: within-block self-join + plan-level prunes.

The join is an equi hash join on ``block_key`` with ``left_id <
right_id`` dedup; the reference's kernel-internal prunes that are
expressible on plain columns (equality short-circuit, length-difference
cutoff — src/distance/levenshtein.rs:1126-1132) are emitted HERE as
Catalyst predicates so they run JVM-side below the Python scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuzzspark.functions import length_prefilter

__all__ = ["candidate_pairs"]


def candidate_pairs(blocks: DataFrame, *, scorer: str = "ratio",
                    cutoff: float = 0.9) -> DataFrame:
    """(left_id, right_id, exact_equal) distinct pairs of ``blocks``
    (id, block_key, content_len) rows that share a block key.

    The length prune reads both lengths off the two join sides, so it
    runs BEFORE the dedup exchange: length-impossible pairs never
    shuffle, and the surviving rows stay 17 B.  ``exact_equal`` is
    decided from the exact-sha block family itself: a pair is
    content-equal iff it shares an ``x:``-prefixed key.  Without the
    exact family (``use_exact=False``) equal pairs take the scorer path
    and still score 1.0.  The same pair found via several keys is
    deduped BEFORE scoring, by one aggregation on the pair key.

    Text never rides the pair rows: inlining both contents would
    multiply the checkpoint by the pair amplification factor, so the
    scoring stage attaches content by id instead.
    """
    if "content_len" not in blocks.columns:
        raise ValueError("candidate_pairs needs blocks with content_len "
                         "(see block_keys)")
    left = blocks.alias("l")
    right = blocks.alias("r")
    is_x = F.col("l.block_key").startswith("x:")
    # x: pairs have len1 == len2 and so pass any length bound; the
    # explicit term keeps exact duplicates independent of the scorer
    cand = (
        left.join(right, F.col("l.block_key") == F.col("r.block_key"))
        .where((F.col("l.id") < F.col("r.id"))
               & (is_x | length_prefilter(F.col("l.content_len"),
                                          F.col("r.content_len"),
                                          scorer, cutoff)))
        .select(F.col("l.id").alias("left_id"),
                F.col("r.id").alias("right_id"),
                is_x.alias("_is_x")))
    return (cand.groupBy("left_id", "right_id")
            .agg(F.max("_is_x").alias("exact_equal")))
