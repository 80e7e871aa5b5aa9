"""Structured Streaming store sinks and ingestion gates (SURVEY §2.11
noted the reference is strictly batch; these are the engine's
extension surface for incremental, replay-safe state on unbounded
input)."""
