"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.F: no watermarks/windows/state),
so this layer is deliberately thin: windowed event-graph degree counts
(ingest.py) and stateful exact dedup (dedup.py).
"""
