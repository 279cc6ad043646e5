"""Custom operators Spark lacks natively, built as compositions of
DataFrame ops (SURVEY §2.B 'custom operators' guidance): as-of join,
skew mitigation (salted join/agg, scan re-spread), IVF approximate
nearest-neighbor search (ann.py also owns the one exact dot/norm SQL
template, dot_sql/norm_sql, and the exact double literal _dlit), and
the near-dedup family in dedup.py (the one 31-bit hash, MinHash-LSH
signatures/bands/candidate pairs, exact and estimated verification,
containment, sorted-neighborhood). These are the shared kernels: the
facades (pipeline.py, vectors.py, eventlog.py), the query corpus
(queries/) and streaming dedup call them. The layering runs one way:
queries call the facades and operators, the facades call operators,
and neither operators nor the facades import anything from queries/
(pinned by tests/test_operators.py::
test_no_module_outside_queries_imports_queries)."""

from .ann import assign_buckets, fit_ivf, ivf_search  # noqa: F401
from .asof import asof_join  # noqa: F401
from .dedup import (  # noqa: F401
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    neardup_pairs,
    shingle_tokens,
)
from .skew import salted_agg_count, salted_join  # noqa: F401
from .cluster import connected_components, dedup_clusters  # noqa: F401
from .compact import compact_lake, partition_file_stats  # noqa: F401
from .purge import purge_rows, purge_unpartitioned  # noqa: F401
from .rank import global_positions  # noqa: F401
