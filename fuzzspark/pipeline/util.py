"""Small shared helpers for the pipeline stages."""

from __future__ import annotations

from pyspark.sql import Column, SparkSession, functions as F

__all__ = ["broadcast_max_bytes", "content_bytes", "parse_bytes"]


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


def broadcast_max_bytes(spark: SparkSession) -> int:
    """``fuzzspark.broadcast.content.max_bytes``: the most uncompressed
    content bytes (:func:`content_bytes`) that 04_scores and the
    streaming matcher broadcast; a value <= 0 turns the broadcast off."""
    return parse_bytes(spark.conf.get("fuzzspark.broadcast.content.max_bytes",
                                      "64m"))


def content_bytes(col: str = "content") -> Column:
    """The aggregate the broadcast gate measures: UTF-8 bytes of
    ``col`` summed (NULL over no rows)."""
    return F.sum(F.octet_length(col))
