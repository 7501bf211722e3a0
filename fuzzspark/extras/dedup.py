"""Deduplication operators for large-scale corpus curation.

Five strategies, cheapest-first (the standard training-data stack):

* exact       — groupBy sha256(content): one shuffle, no scoring.
* minhash-LSH — fuzzspark.pipeline.blocking.minhash_key_rows (shared
  with the linkage pipeline): near-dup candidates at ~O(n) via band
  bucketing; verify candidates with n-gram Jaccard or ``ratio``.
* simhash     — 64-bit token-hash fingerprint; near-dups differ in few
  bits; bucket by rotated prefixes for Hamming-radius search.
* n-gram Jaccard — exact set similarity, Catalyst-native (array ops).
* embedding cosine — see fuzzspark.extras.similarity.

All UDFs are Arrow-batched pandas UDFs (no per-row Python).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

__all__ = ["exact_dup_clusters", "simhash_udf", "simhash64",
           "simhash_near_dup_pairs", "ngram_jaccard_col",
           "minhash_near_dup_pairs", "embedding_near_dup_pairs",
           "dedup_corpus"]


def exact_dup_clusters(df: DataFrame, content_col: str = "content",
                       id_col: str = "id",
                       max_members: int = 128) -> DataFrame:
    """(content_sha, dup_count, keep_id, member_ids) for groups > 1.

    ``member_ids`` is capped at the ``max_members`` SMALLEST ids per
    group (``dup_count``/``keep_id`` still cover the whole group): at
    corpus scale one boilerplate file duplicated 10^7 times must not
    materialize a 10^7-element array row.  The cap is enforced BEFORE
    aggregation via a row_number window (spill-safe WindowExec), so the
    collect_list buffer itself is bounded — a post-hoc slice() would
    still build the unbounded list in the aggregation buffer.  The
    window and the groupBy share the content_sha hash partitioning, so
    this stays a single shuffle.
    """
    from pyspark.sql import Window
    sha = F.sha2(F.col(content_col).cast("binary"), 256)
    base = df.select(sha.alias("content_sha"), F.col(id_col).alias("_id"))
    w = Window.partitionBy("content_sha").orderBy("_id")
    wall = Window.partitionBy("content_sha")
    ranked = base.select(
        "content_sha", "_id",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(wall).alias("dup_count"),
        F.min("_id").over(wall).alias("keep_id"))
    return (ranked.where((F.col("dup_count") > 1)
                         & (F.col("_rn") <= max_members))
            .groupBy("content_sha", "dup_count", "keep_id")
            .agg(F.sort_array(F.collect_list("_id")).alias("member_ids")))


def simhash64(text: str) -> int:
    """Deterministic 64-bit SimHash over whitespace tokens (md5-based
    token hashes — stable across processes, unlike Python hash()).
    Scalar reference; the batch path is ``simhash_batch``."""
    acc = np.zeros(64, dtype=np.int64)
    for tok in text.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    out = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out >> np.uint64(1))  # keep in signed-long range


def simhash_batch(texts) -> np.ndarray:
    """Vectorized SimHash over a batch (bit-exact with ``simhash64``).

    Each md5 is computed ONCE per distinct token in the batch (natural
    text repeats tokens heavily), the +/-1 bit contributions become one
    (n_unique, 64) int8 matrix, and the per-document accumulation is a
    single ``np.add.at`` scatter — no per-row per-token Python loops.
    Returns int64 with -1 sentinel replaced by caller (NULLs handled by
    the UDF wrapper)."""
    tok_lists = [t.split() for t in texts]
    n_docs = len(texts)
    counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                         count=n_docs)
    vocab: dict[str, int] = {}
    get = vocab.get
    uids = np.empty(int(counts.sum()), dtype=np.int64)
    w = 0
    for toks in tok_lists:
        for tok in toks:
            u = get(tok)
            if u is None:
                u = len(vocab)
                vocab[tok] = u
            uids[w] = u
            w += 1
    out = np.zeros(n_docs, dtype=np.int64)
    if not vocab:
        return out
    # one md5 per DISTINCT token
    hashes = np.fromiter(
        (int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
         for tok in vocab),
        dtype=np.uint64, count=len(vocab))
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) &
            np.uint64(1)).astype(np.int16)
    contrib = (bits * 2 - 1).astype(np.int16)  # +/-1 per bit
    # tokens are doc-contiguous: one segmented-sum over the token rows
    # (np.add.reduceat) gives every non-empty doc's 64 accumulators
    nz = np.flatnonzero(counts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])[nz]
    acc = np.add.reduceat(contrib[uids].astype(np.int32), starts, axis=0)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    packed = ((acc > 0).astype(np.uint64) * weights).sum(axis=1,
                                                         dtype=np.uint64)
    out[nz] = (packed >> np.uint64(1)).astype(np.int64)
    # empty docs: acc all zeros -> no bits set -> 0 (matches simhash64)
    return out


def simhash_udf():
    @pandas_udf("long")
    def _udf(text: pd.Series) -> pd.Series:
        mask = text.notna()
        vals = simhash_batch(text[mask].tolist())
        out = pd.Series(np.zeros(len(text), dtype=np.int64),
                        index=text.index, dtype="Int64")
        out[~mask] = pd.NA
        out[mask] = vals
        return out
    return _udf


def simhash_near_dup_pairs(df: DataFrame, *, id_col: str = "id",
                           content_col: str = "content",
                           max_hamming: int = 3,
                           n_blocks: int = 4) -> DataFrame:
    """Candidate pairs whose SimHashes differ in <= max_hamming bits.

    Pigeonhole bucketing: split the 63-bit hash into ``n_blocks``
    blocks; any pair within Hamming radius n_blocks-1 shares at least
    one exact block.  Self-join per block key, then exact popcount
    filter (bit_count is Catalyst-native — JVM-side)."""
    sh = df.select(F.col(id_col).alias("id"),
                   simhash_udf()(F.col(content_col)).alias("simhash"))
    width = 64 // n_blocks
    keys = None
    for b in range(n_blocks):
        k = sh.select(
            "id", "simhash",
            F.concat(F.lit(f"{b}:"),
                     F.shiftrightunsigned(F.col("simhash"), b * width)
                     .bitwiseAND(F.lit((1 << width) - 1)).cast("string"))
            .alias("bkey"))
        keys = k if keys is None else keys.unionByName(k)
    a, b_ = keys.alias("a"), keys.alias("b")
    cand = (a.join(b_, F.col("a.bkey") == F.col("b.bkey"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("left_id"),
                    F.col("b.id").alias("right_id"),
                    F.col("a.simhash").alias("h1"),
                    F.col("b.simhash").alias("h2"))
            .dropDuplicates(["left_id", "right_id"]))
    return (cand.withColumn(
        "hamming_bits", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .where(F.col("hamming_bits") <= max_hamming)
        .select("left_id", "right_id", "hamming_bits"))


def ngram_jaccard_col(s1, s2, n: int = 3):
    """Catalyst-native n-gram Jaccard similarity column (no UDF)."""
    def grams(c):
        return F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(length({c}) - {n - 1}, 0)),"
            f" k -> substr({c}, k, {n}))"))
    g1, g2 = grams(s1), grams(s2)
    inter = F.size(F.array_intersect(g1, g2))
    union = F.size(F.array_union(g1, g2))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def dedup_corpus(df: DataFrame, *, id_col: str = "id",
                 content_col: str = "content",
                 jaccard_cutoff: float = 0.7,
                 n_bands: int = 8, rows_per_band: int = 4,
                 shingle: int = 5) -> DataFrame:
    """End-to-end near-duplicate corpus dedup — the canonical
    training-data pipeline composition: MinHash-LSH candidates ->
    exact n-gram-Jaccard verify -> transitive closure (connected
    components) -> deterministic representative (min id per group).

    Returns (id, representative_id) for EVERY input row (singletons map
    to themselves); ``df.join(out.where("id = representative_id"), ...)``
    keeps one row per near-dup group.  Every stage is the scale path:
    LSH bounds candidates, no all-pairs anywhere, CC is the same
    star-contraction + small-tail driver finish as the linkage
    pipeline."""
    from fuzzspark.pipeline.cluster import connected_components
    edges = minhash_near_dup_pairs(
        df, id_col=id_col, content_col=content_col,
        jaccard_cutoff=jaccard_cutoff, n_bands=n_bands,
        rows_per_band=rows_per_band, shingle=shingle)
    labels = connected_components(
        edges.select("left_id", "right_id"))
    return (df.select(F.col(id_col).alias("id"))
            .join(labels, "id", "left_outer")
            .select("id", F.coalesce("cluster_id", "id")
                    .alias("representative_id")))


def embedding_near_dup_pairs(df: DataFrame, *, id_col: str = "id",
                             emb_col: str = "embedding", dim: int,
                             cos_cutoff: float = 0.95,
                             n_bands: int = 16, bits_per_band: int = 6,
                             seed: int = 4242) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the scale path: sign-
    random-projection LSH bands bound the candidate set (near-dup
    vectors at cos >= 0.95 agree on a band with overwhelming
    probability), then an EXACT Catalyst-native cosine filter verifies
    — no all-pairs computation anywhere, no false positives."""
    from fuzzspark.extras.similarity import _as_double, _dot, _norm, lsh_band_udf
    udf = lsh_band_udf(dim, n_bands, bits_per_band, seed)
    v = _as_double(df.select(F.col(id_col).alias("id"),
                             F.col(emb_col).alias("e")), "e")
    keys = v.select("id", "e", F.explode(udf(F.col("e"))).alias("bkey"))
    a, b = keys.alias("a"), keys.alias("b")
    cand = (a.join(b, F.col("a.bkey") == F.col("b.bkey"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("left_id"),
                    F.col("b.id").alias("right_id"),
                    F.col("a.e").alias("e1"), F.col("b.e").alias("e2"))
            .dropDuplicates(["left_id", "right_id"]))
    cos = _dot(F.col("e1"), F.col("e2")) / (_norm(F.col("e1"))
                                            * _norm(F.col("e2")))
    return (cand.withColumn("cos", cos)
            .where(F.col("cos") >= cos_cutoff)
            .select("left_id", "right_id", F.round("cos", 6).alias("cos")))


def minhash_near_dup_pairs(df: DataFrame, *, id_col: str = "id",
                           content_col: str = "content",
                           jaccard_cutoff: float = 0.7,
                           n_bands: int = 8, rows_per_band: int = 4,
                           shingle: int = 5) -> DataFrame:
    """MinHash-LSH candidates verified by exact n-gram Jaccard."""
    from fuzzspark.pipeline.blocking import minhash_key_rows, normalize_content
    keys = minhash_key_rows(
        df.select(F.col(id_col).alias("id"),
                  normalize_content(F.col(content_col)).alias("__mh_norm")),
        n_bands=n_bands, rows_per_band=rows_per_band,
        shingle=shingle).withColumnRenamed("bk", "bkey")
    a, b = keys.alias("a"), keys.alias("b")
    cand = (a.join(b, F.col("a.bkey") == F.col("b.bkey"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("left_id"),
                    F.col("b.id").alias("right_id"))
            .dropDuplicates(["left_id", "right_id"]))
    sides = df.select(F.col(id_col).alias("id"),
                      normalize_content(F.col(content_col)).alias("norm"))
    j = (cand
         .join(sides.select(F.col("id").alias("left_id"),
                            F.col("norm").alias("s1")), "left_id")
         .join(sides.select(F.col("id").alias("right_id"),
                            F.col("norm").alias("s2")), "right_id")
         .withColumn("jaccard", ngram_jaccard_col("s1", "s2", n=shingle)))
    return (j.where(F.col("jaccard") >= jaccard_cutoff)
            .select("left_id", "right_id", F.round("jaccard", 6).alias("jaccard")))
