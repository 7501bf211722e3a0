"""Small helpers shared by the pipeline stages and the streaming
matcher."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from fuzzspark.functions import length_prefilter, scorer_column

__all__ = ["arrow_bytes", "broadcast_fits", "collect_budget",
           "content_bytes", "join_scores", "parse_bytes"]


def parse_bytes(v: str) -> int:
    """Spark size-conf string -> bytes ('16m', '128MB', '134217728')."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                   ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                   ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return 0


def collect_budget(spark: SparkSession) -> int | None:
    """Bytes a driver-side collect may return: 80% of
    ``spark.driver.maxResultSize`` (default 1 GiB), which aborts any
    collect above it whatever the heap.  None when the setting is 0
    (unlimited)."""
    cap = parse_bytes(spark.conf.get("spark.driver.maxResultSize", "1g"))
    return cap * 4 // 5 if cap > 0 else None


def arrow_bytes(rows: int, string_bytes: int, columns: int) -> int:
    """Upper estimate of an Arrow collect of ``rows`` rows and
    ``columns`` columns whose strings hold ``string_bytes``: 8 B per
    value (an int64, or a string's offset and validity bit) on top of
    the string bytes."""
    return string_bytes + 8 * columns * rows


def broadcast_fits(spark: SparkSession, nbytes: int | None,
                   collect_bytes: int) -> tuple[bool, int]:
    """The broadcast gate of 04_scores and the streaming matcher: is
    content of ``nbytes`` uncompressed bytes (:func:`content_bytes`; None
    counts as 0), which the driver collects as ``collect_bytes``
    (:func:`arrow_bytes`), broadcast as a ``ContentTable`` rather than
    scored by :func:`join_scores`?  Yes when it is at most
    ``fuzzspark.broadcast.content.max_bytes`` (<= 0 turns the broadcast
    off) and the collect fits :func:`collect_budget`.  Returns the
    answer and that limit."""
    limit = parse_bytes(spark.conf.get(
        "fuzzspark.broadcast.content.max_bytes", "64m"))
    budget = collect_budget(spark)
    return (0 < limit and (nbytes or 0) <= limit
            and (budget is None or collect_bytes <= budget)), limit


def content_bytes(col: str = "content") -> Column:
    """The aggregate the broadcast gate measures: UTF-8 bytes of
    ``col`` summed (NULL over no rows)."""
    return F.sum(F.octet_length(col))


def join_scores(pairs: DataFrame, side1: DataFrame, side2: DataFrame,
                scorer: str, cutoff: float) -> DataFrame:
    """Pair scoring above the broadcast gate: join each pair's texts on
    from ``side1`` (key, s1) and ``side2`` (key, s2), each keyed on the
    pair column its first column names, and score them.  Pairs whose
    lengths (``len1``, ``len2``) cannot reach ``cutoff`` are dropped
    below the scorer; the others score NULL below it, the cutoff pushed
    into the kernel (src/common.rs:73-86).  Returns the pair columns
    with s1, s2, len1, len2 and score."""
    df = (pairs.join(side1, side1.columns[0])
          .join(side2, side2.columns[0])
          .withColumn("len1", F.length("s1"))
          .withColumn("len2", F.length("s2")))
    return (df.where(length_prefilter(F.col("len1"), F.col("len2"),
                                      scorer, cutoff))
            .withColumn("score", scorer_column(
                scorer, "s1", "s2", "normalized_similarity",
                score_cutoff=cutoff)))
