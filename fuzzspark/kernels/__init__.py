"""Pure kernels (no Spark or pandas dependency).

Scalar semantic ground truth in ``metrics`` and ``fuzz``; Arrow-batch
engine in ``batch``, whose every kernel call goes through ``_native``
(C library or Python, chosen there only); the MinHash blocking kernel
in ``minhash``; the broadcast tables in ``content`` and ``refindex``.
"""

from .metrics import (  # noqa: F401
    ALL_METRICS,
    HammingError,
    damerau_levenshtein,
    hamming,
    indel,
    jaro,
    jaro_winkler,
    lcs_seq,
    levenshtein,
    osa,
    postfix,
    prefix,
)
from .fuzz import partial_ratio, ratio, token_set_ratio, token_sort_ratio  # noqa: F401
from .batch import FORMS, SCORERS, batch_scores  # noqa: F401
