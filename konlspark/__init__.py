"""konlspark — a PySpark-native distributed full-text engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference embedded Korean search engine (handrake/KonlSearch, see
SURVEY.md) as idiomatic Spark DataFrame jobs: block-compressed inverted
index build, BM25 top-k with block-max pruning, prefix suggestions,
query-log frequency aggregation — plus the training-data-pipeline
operators (dedup, similarity, text analysis) in :mod:`konlspark.ops`.
"""

__version__ = "0.1.0"

from . import _pyworker

_pyworker.install()
