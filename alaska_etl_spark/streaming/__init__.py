"""Incremental Structured Streaming path (``incremental``): a USCRN
file-source stream drained by ``trigger(availableNow)`` into the
warehouse load protocol."""
