"""End-to-end and per-layer benchmark for corral_spark (see run.py)."""
