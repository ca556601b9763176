"""Incremental Structured Streaming path (``incremental``): file-source
streams drained by ``trigger(availableNow)`` into the warehouse sinks."""
