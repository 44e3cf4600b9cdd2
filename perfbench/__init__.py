"""Workload benchmark for konlspark: the index lifecycle (bulk build,
ingest churn, queries) and the dedup ops, each a closed loop with one
client (see README.md)."""
