"""Structured Streaming layer (SURVEY.md §2.10): the reference's buffer
pipeline re-expressed as epoch-store writes — micro-batch ingest with
foreachBatch into replay-safe epoch stores, read-your-writes as a union
view, and the RoundBuffer triggers as the batch per-session grouping
``chunking.contextual_chunks``.
"""
