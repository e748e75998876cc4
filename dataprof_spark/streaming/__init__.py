"""Structured Streaming operators: windowed event aggregation with
watermarks, stateful sessionization, and the gated page stream, which
runs checkpoint.run once per micro-batch."""
