"""reddit_hn_etl_spark — PySpark-native analytics engine with the
capabilities of RCepenco/reddit-hn-etl plus LLM-data-pipeline
operators. See README.md for the architecture map and SURVEY.md for
the reference analysis this implements.

Public API (stable import surface for library consumers):
"""

from .audit import AuditLog
from .operators.checks import (
    CheckFailure,
    assert_non_empty,
    assert_not_null,
    assert_unique_key,
    duplicate_keys,
)
from .operators.dedup import (
    dedup_exact,
    dedup_keep_last,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from .operators.joins import asof_join, interval_join_count
from .operators.merge import MergeMetrics, merge_resolve, merge_upsert
from .operators.sessions import session_summary, sessionize
from .operators.similarity import (
    knn_cosine_bruteforce,
    knn_cosine_lsh,
)
from .session import get_session
from .sources.publish import publish_tables, read_published

__all__ = [
    "AuditLog",
    "CheckFailure",
    "MergeMetrics",
    "assert_non_empty",
    "assert_not_null",
    "assert_unique_key",
    "asof_join",
    "dedup_exact",
    "dedup_keep_last",
    "duplicate_keys",
    "get_session",
    "interval_join_count",
    "jaccard_pairs",
    "knn_cosine_bruteforce",
    "knn_cosine_lsh",
    "merge_resolve",
    "merge_upsert",
    "minhash_lsh_pairs",
    "publish_tables",
    "read_published",
    "session_summary",
    "sessionize",
    "simhash",
    "simhash_near_pairs",
]
