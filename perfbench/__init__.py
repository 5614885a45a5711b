"""Benchmark for sqlrs_spark; entry point perfbench/run.py."""
