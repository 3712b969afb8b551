"""Benchmark of the gpq_tiles_spark engine (see run.py)."""
