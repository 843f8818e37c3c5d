"""End-to-end and per-layer benchmark for sigraph-spark (see README.md)."""
