"""Batch-incremental & Structured Streaming wrappers (SURVEY.md §2.9)."""

from .incremental import incremental_sink

__all__ = ["incremental_sink"]
