"""Benchmark of basis_devkit_spark through its public API; see run.py."""
