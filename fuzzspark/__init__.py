"""fuzzspark — a PySpark-native record-linkage engine.

Re-implements the query/data-processing capabilities of rapidfuzz-rs
(reference at /root/reference, v0.5.0) as a Spark-first pipeline:

- ``fuzzspark.kernels``  — pure numpy/Python scorer kernels with exact
  rapidfuzz-rs semantics (distance/similarity/normalized_* forms,
  score_cutoff, weights, Hamming padding).  No Spark dependency.
- ``fuzzspark.functions`` — vectorized pandas UDF factories exposing the
  kernels as Spark columns (Arrow-batched; no per-row Python).
- ``fuzzspark.pipeline`` — blocking + candidate-pair generation +
  batch scoring + transitive clustering (large-star/small-star
  connected components), with stage checkpoints and resume.
- ``fuzzspark.extras``   — training-data-pipeline operators: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
  over embeddings, text analysis, multimodal column plumbing.
"""

__version__ = "0.1.0"

# a Python worker imports the package when it unpickles its first task
# that uses fuzzspark; from then on its per-task import-cache reset stops
# re-reading every unchanged zip archive (fuzzspark/_zipgate.py)
from fuzzspark._zipgate import install as _install_zipgate

_install_zipgate()
