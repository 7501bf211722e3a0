"""Structured Streaming operators: incremental corpus ingest.

The reference library is batch-only; these operators make the linkage
engine usable on a continuously-arriving corpus (the 10^12-file table
grows by commits):

* ``streaming_exact_dedup``   — watermarked sha256 dropDuplicates.
* ``streaming_fuzzy_match``   — micro-batch fuzzy match of arriving
  records against a static reference corpus with the batch pipeline's
  block keys and scorer, applied incrementally via ``foreachBatch``:
  the reference is indexed once on the driver and broadcast, so each
  micro-batch is one Arrow map (a candidate equi-join against the
  persisted reference keys above the broadcast gate).
* ``streaming_ingest_linkage`` — end-to-end: new files scored against
  the accumulated corpus, match edges appended to a parquet sink that
  the batch connected-components job folds in on the next run.
* ``streaming_windowed_agg``  — watermarked event-time tumbling-window
  aggregation (update mode; last-write-wins per window equals the
  batch aggregate over non-late rows).
"""

from .ops import (  # noqa: F401
    streaming_exact_dedup,
    streaming_stateful_dedup,
    streaming_fuzzy_match,
    streaming_ingest_linkage,
    streaming_windowed_agg,
)
