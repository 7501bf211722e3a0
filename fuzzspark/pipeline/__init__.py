from .corpus import (  # noqa: F401
    corpus_from_documents,
    corpus_to_spark,
    generate_corpus,
)
from .blocking import block_keys, defuse_skew  # noqa: F401
from .pairs import candidate_pairs  # noqa: F401
from .cluster import connected_components  # noqa: F401
from .checkpoint import StageRunner, params_hash  # noqa: F401
from .run import LinkageConfig, evaluate_f1, run_pipeline  # noqa: F401
