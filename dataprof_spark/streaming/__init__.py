"""The gated page stream (metrics.py), which runs checkpoint.run once
per micro-batch."""
