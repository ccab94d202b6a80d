"""Layered benchmark for data_quality_check_spark (see perfbench/README.md)."""
