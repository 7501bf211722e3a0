"""Blocking: candidate-key generation, block census, skew defusal.

Key families (each a (id, block_key) relation; union = recall ∪):

* ``exact``    — sha256(content): exact duplicates, zero scoring cost.
* ``path``     — (lang, normalized path stem): cheap structural key.
* ``minhash``  — MinHash-LSH over character shingles of normalized
  content: b bands × r rows; two files share a band key with
  probability 1-(1-j^r)^b for Jaccard j (the LSH S-curve).  The kernel
  is :func:`fuzzspark.kernels.minhash.make_minhash_matrix`; it runs per
  Arrow batch in ONE ``mapInArrow`` that emits the key rows already
  exploded, one flat int64 column (:func:`minhash_key_rows`).

This module holds the blocking scheme's constants and the Spark plans
over them; the numpy kernels live in :mod:`fuzzspark.kernels`.

Skew defusal: a single giant block produces O(n²) pairs no matter what
AQE does to the *join*, so oversized blocks are length-sorted and
re-keyed into overlapping sorted-neighborhood windows (bounded pairs,
documented recall tradeoff) — SURVEY.md §4 "what Catalyst cannot do".
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from fuzzspark.kernels.minhash import make_minhash_matrix

__all__ = ["normalize_content", "block_key_columns", "block_keys",
           "defuse_skew", "minhash_key_rows"]

# The blocking scheme (BASELINE.json north_star), defined once for the
# batch pipeline and the stream.  MinHash-LSH: N_BANDS bands of
# ROWS_PER_BAND rows over SHINGLE-char shingles of the first MAX_CHARS
# chars, hash family drawn from SEED.  Blocks of more than MAX_BLOCK
# members are windowed by WINDOW (batch, :func:`defuse_skew`) or
# dropped (the stream's reference index).  run_pipeline's lineage hash
# covers every value (:func:`scheme`)
N_BANDS = 8
ROWS_PER_BAND = 4
SHINGLE = 5
MAX_CHARS = 2000
SEED = 1729
MAX_BLOCK = 200
WINDOW = 20


def minhash_params() -> dict:
    """The MinHash constants as :func:`make_minhash_matrix` arguments,
    read when called."""
    return dict(n_bands=N_BANDS, rows_per_band=ROWS_PER_BAND,
                shingle=SHINGLE, max_chars=MAX_CHARS, seed=SEED)


def scheme() -> dict:
    """Every blocking constant by name, read when called."""
    return dict(minhash_params(), max_block=MAX_BLOCK, window=WINDOW)


def minhash_key_rows(df: DataFrame, *, id_col: str = "id",
                     text_col: str = "__mh_norm",
                     carry: tuple[str, ...] = (),
                     n_bands: int = N_BANDS,
                     rows_per_band: int = ROWS_PER_BAND,
                     shingle: int = SHINGLE, max_chars: int = MAX_CHARS,
                     seed: int = SEED) -> DataFrame:
    """Pre-exploded MinHash key rows: ``df`` (with an already-normalized
    ``text_col``) -> (id_col, *carry, bk:long), one row per (doc, band).

    The rows are :func:`make_minhash_matrix`'s key matrix, exploded:
    same kernel, same keys, no row for a null text.  They leave the
    Python worker as one flat Arrow int64 column (``matrix.ravel()`` +
    ``np.repeat`` of the carried columns), with no per-doc Python list
    and no JVM ``explode``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = [id_col, *carry]
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    ) + ", bk long"
    params = (n_bands, rows_per_band, shingle, max_chars, seed)

    def emit(batches):
        matrix = make_minhash_matrix(*params)  # once per task
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            idx, keys = matrix(texts)
            rep = pa.array(np.repeat(idx, n_bands))
            cols = [pc.take(batch.column(c), rep) for c in keep]
            cols.append(pa.array(keys.ravel()))
            yield pa.RecordBatch.from_arrays(cols, names=[*keep, "bk"])

    return df.select(*keep, text_col).mapInArrow(emit, out_schema)


def normalize_content(col):
    """Light normalization before shingling (lowercase, collapse ws)."""
    return F.lower(F.regexp_replace(col, r"\s+", " "))


def _path_key():
    stem = F.regexp_extract(F.element_at(F.split(F.col("path"), "/"), -1),
                            r"^([A-Za-z_]+)", 1)
    return F.concat(F.lit("p:"), F.col("lang"), F.lit("/"), F.lower(stem))


# key family -> builder of its column over (content, path, lang).  A
# caller builds only the families it keys: each column is several py4j
# round trips, paid on every call
_FAMILY_COLUMNS = {
    "exact": lambda: F.concat(F.lit("x:"),
                              F.sha2(F.col("content").cast("binary"), 256)),
    "path": _path_key,
    "minhash": lambda: normalize_content(F.col("content")),
}


def block_key_columns() -> dict:
    """The key families as column expressions over (content, path,
    lang) — the ONE definition that :func:`block_keys` and the
    streaming reference index (``fuzzspark.kernels.refindex``) both
    evaluate, so batch and stream keys cannot drift:

    * ``exact``   — ``'x:' || sha256(content)``, the block key itself.
    * ``path``    — ``'p:' || lang || '/' || lower(stem)``, the block
      key itself.
    * ``minhash`` — the normalized content the MinHash kernel shingles
      (``make_minhash_matrix``); its block keys are
      ``'m:' || band_key``.
    """
    return {fam: build() for fam, build in _FAMILY_COLUMNS.items()}


def block_keys(files: DataFrame, *, use_exact: bool = True,
               use_path: bool = True, use_minhash: bool = True) -> DataFrame:
    """(id, block_key:string) relation — union over the chosen key
    families of :func:`block_key_columns` (the pipeline keys the exact
    and path families and the MinHash family off different inputs; a
    table without ``path``/``lang`` takes the exact and MinHash
    families only).

    When ``files`` carries ``content_len``, the key rows carry it too
    (+8 B/row): :func:`defuse_skew` orders oversized blocks by it and
    :func:`~fuzzspark.pipeline.pairs.candidate_pairs` reads both pair
    lengths off its join sides.  Both require it."""
    carry = ["content_len"] if "content_len" in files.columns else []
    parts = [files.select("id", _FAMILY_COLUMNS[fam]().alias("block_key"),
                          *carry)
             for fam, on in (("exact", use_exact), ("path", use_path)) if on]
    if use_minhash:
        # round 7: pre-exploded Arrow rows straight from the kernel's
        # key matrix (see minhash_key_rows) — same keys, no per-doc
        # Python list + JVM explode
        rows = minhash_key_rows(
            files.select("id", *carry,
                         _FAMILY_COLUMNS["minhash"]().alias("__mh_norm")),
            carry=tuple(carry), **minhash_params())
        parts.append(
            rows.select("id", F.concat(F.lit("m:"),
                                       F.col("bk").cast("string"))
                        .alias("block_key"), *carry))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def defuse_skew(blocks: DataFrame) -> DataFrame:
    """Bound pair blow-up of oversized blocks.

    ``blocks``: (id, block_key, content_len) key rows, as
    :func:`block_keys` emits them from a ``files`` with ``content_len``.
    Blocks with <= MAX_BLOCK members pass through.  Larger blocks are
    sorted by content length (near-dups have near-equal lengths — the
    length-difference prune would reject far-apart pairs anyway) and
    re-keyed into overlapping windows of WINDOW members with 50%
    overlap: pairs per member bounded by ~2*WINDOW instead of n.  A
    NULL length (NULL content) sorts first and ties break by id, so
    ranks stay deterministic and no key row loses its block.
    """
    from pyspark.sql import Window
    if "content_len" not in blocks.columns:
        raise ValueError("defuse_skew needs blocks with content_len "
                         "(see block_keys)")
    # window census: ONE shuffle by block_key and a single computation
    # of the (UDF-bearing) blocks input.  Both windows share that
    # partitioning (guide §2.4), so they stack over a single
    # exchange+sort, and the 1-or-2 output keys per row come from ONE
    # explode, not a union of subtrees that would each re-run the
    # census.
    wc = Window.partitionBy("block_key")
    wr = wc.orderBy("content_len", "id")
    half = max(1, WINDOW // 2)
    c = (blocks
         .withColumn("_rank", F.row_number().over(wr) - 1)
         .withColumn("_bsize", F.count("*").over(wc)))
    keys = F.when(
        F.col("_bsize") <= MAX_BLOCK,
        F.array(F.col("block_key"))
    ).otherwise(F.array(
        F.concat(F.col("block_key"), F.lit("#w"),
                 (F.col("_rank") / WINDOW).cast("long").cast("string")),
        F.concat(F.col("block_key"), F.lit("#v"),
                 ((F.col("_rank") + half) / WINDOW).cast("long")
                 .cast("string"))))
    return c.select("id", F.explode(keys).alias("block_key"),
                    "content_len")
