"""Structured Streaming surface (the reference has none — SURVEY.md §2.2):
event-time windows with watermarks, streaming dedup, stateful
sessionization and per-key state, stream-stream joins; see ``events``."""
