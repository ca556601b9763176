"""Incremental Structured Streaming path (``incremental``): USCRN and
wind file-source streams drained by ``trigger(availableNow)`` into the
warehouse load protocol or a parquet path."""
