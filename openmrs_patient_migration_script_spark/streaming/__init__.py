"""Structured Streaming surface (SURVEY.md §2.10): the readStream twin of
the batch `stream_tumbling` query, and foreachBatch index maintenance for
continuous dedup (streaming/pipelines.py)."""
