"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.10); this module exists because a
web-scale crawl arrives incrementally: the ER stream dedups each new drop
against accumulated bucket state and merges its pairs into the running
cluster assignment without re-clustering the corpus."""
